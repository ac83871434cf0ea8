"""Large-scale training-data-pipeline operators (SURVEY.md §2.6, [EXT]):
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine), similarity search (brute-force top-k, bucketed pairwise join),
and text analysis (stats, language-ID, quality, token counts,
fingerprints, tf-idf).

All hot paths are Catalyst expressions (no Python in the loop); the
only "custom" machinery is deterministic hashing via md5-hex prefixes
(functions/text.py) so every operator — including MinHash banding and
SimHash signatures — has an exact DuckDB oracle.

Scale notes (100 TB design):
- Candidate generation never does an unbucketed crossJoin: MinHash
  pairs come from band-bucket self-joins, SimHash pairs from
  signature-prefix buckets, embedding pairs from coarse-cluster (IVF
  label) buckets. Each is a shuffle on a high-cardinality key.
- Exact-Jaccard joins on the shared-shingle key, which only generates
  co-occurring pairs (worst case bounded by shingle frequency — salt or
  drop ultra-hot shingles at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ex_aws_firehose_spark.functions.text import (
    MINHASH_PRIME as P,
    STOPWORDS,
    duck_hex_hash,
    duck_hex_hash60,
    duck_hex_hash120,
    duck_shingles,
    hex_hash,
    hex_hash60,
    hex_hash120,
    shingles,
    tokens,
)
from ex_aws_firehose_spark.functions.vector import (
    cosine,
    dot,
    duck_cosine,
    duck_dot,
    norm,
)
from ex_aws_firehose_spark.caching import session_cached, tracked_mkdtemp
from ex_aws_firehose_spark.registry import query
from ex_aws_firehose_spark.tables import fixpoint, load_table, spread

# ---------------------------------------------------------------------------
# Dedup: exact
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT sha256(text) AS text_hash,
           MIN(doc_id)  AS rep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy keeping the smallest doc_id as
    representative. One shuffle on the hash — the 100 TB-safe pattern
    (never collects, never sorts globally)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup: MinHash + LSH banding
# ---------------------------------------------------------------------------

NUM_HASHES = 12
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
# Deterministic permutation seeds (documented, reproducible).
_SEEDS = [(2 * j + 3, (104729 * (j + 1)) % P) for j in range(NUM_HASHES)]


def _minhash_cte() -> str:
    """CTE prefix shared by the pair and cluster oracles: shingle →
    hash → signature → LSH bands."""
    mins = ",\n           ".join(
        f"MIN(({a} * h + {b}) % {P}) AS m{j}" for j, (a, b) in enumerate(_SEEDS)
    )
    bands = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, {b} AS band, concat_ws('-', {cols}) AS bsig FROM sig".format(
            b=b,
            cols=", ".join(
                f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(BANDS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest({duck_shingles('t')}) AS s FROM toks
    ),
    hs AS (
        SELECT doc_id, {duck_hex_hash('s')} AS h FROM sh
    ),
    sig AS (
        SELECT doc_id,
           {mins}
        FROM hs GROUP BY doc_id
    ),
    bands AS (
        {bands}
    )
    """


def _minhash_oracle() -> str:
    return (
        _minhash_cte()
        + """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
    WHERE a.doc_id < b.doc_id
    """
    )


def _minhash_sig_cols(d: DataFrame) -> DataFrame:
    """Per-row signature folds for a (doc_id, text) frame: (doc_id,
    m0..m11). Pure map, zero shuffles; docs shorter than the shingle
    width produce no rows. Expressions mirror _minhash_cte()
    bit-for-bit."""
    hs = d.filter(F.size(tokens("text")) >= 3).select(
        "doc_id",
        F.transform(shingles(tokens("text")), lambda s: hex_hash(s)).alias("hs"),
    )
    return hs.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(F.col("hs"), lambda h: (F.lit(a) * h + F.lit(b)) % P)
            ).alias(f"m{j}")
            for j, (a, b) in enumerate(_SEEDS)
        ],
    )


# The 12-permutation signature table itself is a shared artifact:
# q_dedup_minhash, q_dedup_incremental and q_dedup_lsh_tuning each used
# to re-run the tokenize→shingle→md5→12-fold map over the full corpus
# (the most compute-dense per-row map in the dedup family, ~1-2 s per
# re-run at sf0.1 on 32 cores). One persisted build per (session,
# sf_dir) — the in-session analog of staging the signature table to
# parquet at ingest, which is exactly what the incremental key's
# docstring already assumes (guide §1.2: don't recompute).
@session_cached
def minhash_sig_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus signature table (doc_id, m0..m11), built once per
    (session, sf_dir) and persisted. Consumers re-band it per their own
    (bands × rows) config — banding is a cheap explode over 12 already-
    computed columns, so sharing the SIGNATURES (not the bands) keeps
    every consumer free to choose its banding."""
    return _minhash_sig_cols(load_table(spark, sf_dir, "documents")).persist()


def _band_explode(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bsig) from a signature frame, at the default
    BANDS × ROWS_PER_BAND banding."""
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-", *[f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
            ).alias("bsig"),
        )
        for b in range(BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bs")
    ).select("doc_id", "bs.band", "bs.bsig")


def minhash_bands(d: DataFrame) -> DataFrame:
    """(doc_id, band, bsig) LSH band signatures for an ARBITRARY
    (doc_id, text) frame — the input-driven form used by streaming
    micro-batches (q_stream_dedup_minhash) and slice-level callers
    (q_curate_dedup_cascade's exact-survivor set). Full-corpus callers
    go through minhash_sig_frame instead so the signature map runs
    once per session."""
    return _band_explode(_minhash_sig_cols(d))


# Candidate pairs persisted per (session, sf_dir): q_dedup_clusters
# consumes the same pair graph, so the LSH pipeline runs once — the
# in-session analog of materializing the candidate table once and
# running every downstream dedup consumer off it.
@query("q_dedup_minhash", oracle=_minhash_oracle(), tags=("llm", "dedup"))
@session_cached
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via MinHash + LSH banding: 3-token shingles →
    12 minhash permutations → 4 bands × 3 rows → candidate pair iff any
    band signature collides.

    Scale shape: explode-shingles (map), one groupBy(doc_id) for the
    signature, then a self-join on (band, band_signature) — the bucket
    key is high-cardinality so the join shuffles evenly; no crossJoin
    anywhere. Permutations use deterministic seeds over md5-prefix
    hashes so the DuckDB oracle reproduces signatures bit-for-bit."""
    # Signature is computed per-row with array folds (no explode, no
    # groupBy): hash each shingle once, then take the min of each
    # permutation over the array (minhash_sig_frame — persisted and
    # shared with q_dedup_incremental / q_dedup_lsh_tuning). Zero
    # shuffles until the band join — at 100 TB the signature stage is
    # a pure map over a staged signature table.
    # Docs shorter than the shingle width have no signature (matches the
    # oracle's GROUP BY over exploded shingles); the filter is on the
    # cheap token count, NOT the hash expression — filtering on
    # size(hs) would make Catalyst push the whole inlined hash pipeline
    # into an interpreted Filter (measured 30× slower).
    #
    # One explicit exchange on the join key: both sides of the
    # self-join are the identical subtree, so Catalyst reuses this
    # shuffle (ReusedExchange) instead of recomputing the band explode
    # twice over the persisted signatures.
    bands = _band_explode(minhash_sig_frame(spark, sf_dir)).repartition(
        "band", "bsig"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .persist()
    )
    return pairs


def _incremental_oracle() -> str:
    return (
        _minhash_cte()
        + """
    , roles AS (SELECT doc_id, (doc_id % 10 < 2) AS is_new FROM documents)
    , nb AS (SELECT b.* FROM bands b JOIN roles r USING (doc_id)
             WHERE r.is_new)
    , ib AS (SELECT b.* FROM bands b JOIN roles r USING (doc_id)
             WHERE NOT r.is_new)
    , dup_idx AS (
        SELECT DISTINCT n.doc_id FROM nb n
        JOIN ib i ON n.band = i.band AND n.bsig = i.bsig
    )
    , dup_new AS (
        SELECT DISTINCT a.doc_id FROM nb a
        JOIN nb b ON a.band = b.band AND a.bsig = b.bsig
                 AND b.doc_id < a.doc_id
    )
    SELECT r.doc_id,
           CASE WHEN r.doc_id IN (SELECT doc_id FROM dup_idx)
                    THEN 'dup_of_index'
                WHEN r.doc_id IN (SELECT doc_id FROM dup_new)
                    THEN 'dup_of_new'
                ELSE 'unique' END AS verdict
    FROM roles r WHERE r.is_new
    """
    )


@query(
    "q_dedup_incremental",
    oracle=_incremental_oracle(),
    tags=("llm", "dedup", "incremental"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch dedup — the daily-crawl-vs-historical-index
    shape (the batch sibling of q_stream_dedup_minhash): the corpus
    splits into an INDEX (80%) and a NEW increment (20%, doc_id
    parity); each new doc is checked by MinHash band collision first
    against the index, then against earlier docs of its own increment
    (arrival order = doc_id), yielding a three-way verdict
    (dup_of_index / dup_of_new / unique). The asymmetry is the whole
    point: nothing ever joins index×index.

    100 TB shape: the index's band table is a PRECOMPUTED artifact
    (written bucketed by (band, bsig) at ingest — here derived
    in-query from the same frame), so per-increment cost is
    |new|·bands signature work plus collision-volume join probes —
    independent of index SIZE given bounded bucket occupancy, which is
    what makes daily dedup against a petabyte-scale index affordable.
    Both probe joins are left-semi (existence, not pair
    materialization): the index side streams through the join without
    ever producing index rows."""
    # Bands derive from the persisted session signature table — the
    # per-row signature fold (which the round's earlier spread() tuning
    # targeted) no longer runs here at all (guide §1.2: the cheapest
    # map is the one you don't re-run; the banding explode left behind
    # is trivial).
    d = load_table(spark, sf_dir, "documents")
    bands = _band_explode(minhash_sig_frame(spark, sf_dir))
    is_new = F.col("doc_id") % 10 < 2
    nb = bands.filter(is_new)
    ib = bands.filter(~is_new)
    dup_idx = (
        nb.alias("n")
        .join(
            ib.alias("i"),
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bsig") == F.col("i.bsig")),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("hit_idx", F.lit(True))
    )
    dup_new = (
        nb.alias("a")
        .join(
            nb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("b.doc_id") < F.col("a.doc_id")),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("hit_new", F.lit(True))
    )
    return (
        d.filter(is_new)
        .select("doc_id")
        .join(dup_idx, "doc_id", "left")
        .join(dup_new, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("hit_idx"), "dup_of_index")
            .when(F.col("hit_new"), "dup_of_new")
            .otherwise("unique")
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup: SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_PREFIX_SHIFT = 20  # bucket on the high 12 bits
SIMHASH_MAX_HAMMING = 4


def _simhash_oracle(
    nbits: int = SIMHASH_BITS,
    shift: int = SIMHASH_PREFIX_SHIFT,
    maxham: int = SIMHASH_MAX_HAMMING,
) -> str:
    # The token hash is 32-bit; wider signatures vote on bits of a
    # second independent 32-bit hash (md5 digits 9-16) for i >= 32.
    def bit_expr(i: int) -> str:
        return f"((h{'b' if i >= 32 else ''} >> {i % 32}) & 1)"

    sums = ",\n           ".join(
        f"SUM(CASE WHEN {bit_expr(i)} = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(nbits)
    )
    sig = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(nbits)
    )
    hb = (
        ", CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS hb"
        if nbits > 32
        else ""
    )
    return f"""
    WITH tk AS (
        SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok FROM documents
    ),
    hs AS (SELECT doc_id, {duck_hex_hash('tok')} AS h{hb} FROM tk),
    bits AS (
        SELECT doc_id,
           {sums}
        FROM hs GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {sig} AS simhash FROM bits)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b
      ON (a.simhash >> {shift}) = (b.simhash >> {shift})
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {maxham}
    """


@session_cached
def _simhash_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached (doc_id, hs, hsb) per-token hash arrays shared by ALL
    SimHash widths — the md5 work runs once per (session, sf) instead
    of once per key (q_dedup_simhash + _rotate + _64 previously
    recomputed it independently; VERDICT r6 flagged the ~2× refold)."""
    d = load_table(spark, sf_dir, "documents")
    hex_hash_b = lambda c: F.conv(  # noqa: E731 — md5 digits 9-16
        F.substring(F.md5(c), 9, 8), 16, 10
    ).cast("long")
    hs = d.select(
        "doc_id",
        F.transform(tokens("text"), hex_hash).alias("hs"),
        F.transform(tokens("text"), hex_hash_b).alias("hsb"),
    ).localCheckpoint()
    return hs


@session_cached
def _simhash_sig(
    spark: SparkSession, sf_dir: str, nbits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_id, simhash) signature frame shared by the SimHash keys,
    cached per (session, sf, nbits): the 32-bit signature computes once
    for q_dedup_simhash AND q_dedup_simhash_rotate. Per-row signature
    via array folds — hash each token once (shared cache above), then
    one fold per bit position. No explode, no groupBy: the signature
    stage is shuffle-free (a pure map) at any scale. Signatures wider
    than the 32-bit token hash vote on a second independent 32-bit
    hash (md5 digits 9-16) for the high bits."""
    hs = _simhash_tokens(spark, sf_dir)

    def _bit_fold(i: int):
        mask = 1 << (i % 32)
        src = "hsb" if i >= 32 else "hs"
        return F.aggregate(
            F.col(src),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1),
        ).alias(f"s{i}")

    bits = hs.select("doc_id", *[_bit_fold(i) for i in range(nbits)])
    sig_expr = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(nbits)
    )
    sig = bits.select(
        "doc_id", F.expr(sig_expr).alias("simhash")
    ).localCheckpoint()
    return sig


@query("q_dedup_simhash", oracle=_simhash_oracle(), tags=("llm", "dedup"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signature (per-bit majority vote over
    token hashes, with multiplicity), candidate pairs bucketed by the
    signature's high 12 bits, confirmed at Hamming distance ≤ 4.

    Scale shape: one groupBy(doc_id) for signatures, self-join on the
    prefix bucket. Prefix bucketing trades recall for the absence of a
    crossJoin — q_dedup_simhash_rotate is the rotated-prefix union form
    production systems use; this key keeps one prefix for oracle
    clarity."""
    sig = _simhash_sig(spark, sf_dir)
    a, b = sig.alias("a"), sig.alias("b")
    hamming = F.bit_count(F.expr("a.simhash ^ b.simhash"))
    return (
        a.join(
            b,
            (
                F.expr(f"shiftright(a.simhash, {SIMHASH_PREFIX_SHIFT})")
                == F.expr(f"shiftright(b.simhash, {SIMHASH_PREFIX_SHIFT})")
            )
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= SIMHASH_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
    )


SIMHASH64_BITS = 63  # BIGINT-signed-safe wide signature
SIMHASH64_PREFIX_SHIFT = 47  # bucket on the high 16 bits (65 536 buckets)
SIMHASH64_MAX_HAMMING = 8  # threshold scaled with width (4/32 -> 8/63)


@query(
    "q_dedup_simhash64",
    oracle=_simhash_oracle(
        SIMHASH64_BITS, SIMHASH64_PREFIX_SHIFT, SIMHASH64_MAX_HAMMING
    ),
    tags=("llm", "dedup"),
)
def q_dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide (63-bit) SimHash — the capacity upgrade SCALE.md §15's
    measurement mandates beyond ~10⁶ docs: the 32-bit form's 2¹² fixed
    buckets saturate quadratically and its signature space itself
    collides by birthday pressure at sub-million corpora. This form
    votes on 63 bits (low 32 from the token hash, high 31 from a
    second independent md5 window), buckets on the high 16 bits
    (16× the bucket count), and verifies at the width-scaled Hamming
    ≤ 8. Same shuffle-free fold signature, same bucket equi-join —
    width is purely a capacity parameter, which is exactly the point.

    100 TB shape: identical plan to q_dedup_simhash; signature cost
    doubles (63 folds), candidate volume drops with 2¹⁶ buckets and a
    2⁶³ signature space. Both widths are registered so the capacity
    trade is measurable side by side on the same corpus."""
    sig = _simhash_sig(spark, sf_dir, SIMHASH64_BITS)
    a, b = sig.alias("a"), sig.alias("b")
    hamming = F.bit_count(F.expr("a.simhash ^ b.simhash"))
    return (
        a.join(
            b,
            (
                F.expr(f"shiftright(a.simhash, {SIMHASH64_PREFIX_SHIFT})")
                == F.expr(f"shiftright(b.simhash, {SIMHASH64_PREFIX_SHIFT})")
            )
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= SIMHASH64_MAX_HAMMING)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
    )


SIMHASH_ROTATIONS = (0, 12, 24)  # 3 windows over the 32-bit signature


def _simhash_rotate_oracle() -> str:
    base = _simhash_oracle().split("SELECT a.doc_id AS doc_a", 1)[0]
    mask = (1 << SIMHASH_BITS) - 1
    rot_rows = ", ".join(f"({s})" for s in SIMHASH_ROTATIONS)
    return (
        base
        + f"""
    , rots AS (SELECT * FROM (VALUES {rot_rows}) AS t(r)),
    keyed AS (
        SELECT s.doc_id, s.simhash, r.r,
               (((s.simhash * (1 << r.r)) | (s.simhash >> ({SIMHASH_BITS} - r.r)))
                & {mask}) >> {SIMHASH_PREFIX_SHIFT} AS bucket
        FROM sig s CROSS JOIN rots r
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS ha, b.simhash AS hb
        FROM keyed a JOIN keyed b
          ON a.r = b.r AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}
    """
    )


@query(
    "q_dedup_simhash_rotate",
    oracle=_simhash_rotate_oracle(),
    tags=("llm", "dedup"),
)
def q_dedup_simhash_rotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated-prefix SimHash — the production recall upgrade over
    q_dedup_simhash's single prefix: each signature is circular-rotated
    by {0, 12, 24} bits and bucketed on the high 12 bits of every
    rotation, so a near-dup pair is found whenever ANY of the three
    12-bit windows is error-free (a single fixed prefix misses every
    pair whose flipped bits land in it). Candidates from all rotations
    union through one (rotation, bucket) self-join, dedup to distinct
    pairs, and confirm at Hamming ≤ 4 — same verify, ~3× the bucket
    probes, strictly superset recall.

    Scale shape: identical to the MinHash band join — explode ×3 into
    (rotation, bucket) keys, ONE bucketed equi-join (not three
    sequential joins), distinct at pair grain. Shuffle volume is 3× the
    signature frame (24 bytes/doc extra), still linear in corpus size;
    candidate volume is governed by bucket occupancy per rotation
    exactly as in the single-prefix form. Rotation count is the
    recall/cost dial: r windows of (32/r) bits guarantee recall for
    Hamming < r by pigeonhole (r=3 covers ≤2 exactly; ≤4 is covered
    unless errors spread 2+2 across windows)."""
    mask = (1 << SIMHASH_BITS) - 1
    sig = _simhash_sig(spark, sf_dir)
    keyed = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("r"),
                        F.shiftrightunsigned(
                            (
                                F.shiftleft(F.col("simhash"), s).bitwiseOR(
                                    F.shiftrightunsigned(
                                        F.col("simhash"), SIMHASH_BITS - s
                                    )
                                )
                            ).bitwiseAND(F.lit(mask)),
                            SIMHASH_PREFIX_SHIFT,
                        ).alias("bucket"),
                    )
                    for s in SIMHASH_ROTATIONS
                ]
            )
        ).alias("rb"),
    ).select("doc_id", "simhash", F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket"))
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.r") == F.col("b.r"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("ha ^ hb"))
    return cand.filter(hamming <= SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Dedup: exact n-gram Jaccard
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.5


def _jaccard_oracle() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (SELECT doc_id, unnest({duck_shingles('t')}) AS s FROM toks),
    card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b,
           CAST(s.shared AS DOUBLE) / (ca.n + cb.n - s.shared) AS jaccard
    FROM shared s
    JOIN card ca ON ca.doc_id = s.doc_a
    JOIN card cb ON cb.doc_id = s.doc_b
    WHERE CAST(s.shared AS DOUBLE) / (ca.n + cb.n - s.shared) >= {JACCARD_THRESHOLD}
    """


@session_cached
def shingle_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, s) distinct-shingle frame, persisted per
    (session, sf_dir) — the "tokenize the corpus once" materialization
    that every shingle-grain consumer (Jaccard, containment) reuses
    instead of re-deriving the split→slice→zip_with pipeline. The
    in-session analog of staging the shingle table to parquet, which
    is what a 100 TB pipeline does before its dedup passes."""
    # NO spread here — A/B'd both ways this round: spreading the
    # tokenize→shingle explode to 64 partitions made every consumer
    # SLOWER (containment warm 4.5 → 2.2 s, jaccard 5.7 → 2.1 s,
    # prefix 3.9 → 2.9 s, cascade 6.3 → 4.5 s without it): the explode
    # is cheap, the persisted 64-partition layout multiplies task
    # count through every downstream shuffle of this hot fixture, and
    # the self-joins repartition on the shingle key anyway (guide §1.1
    # — measure, don't assume; see OPTIMIZATION_r14.md).
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(shingles(tokens("text"))).alias("s")
    ).persist()
    return sh


@session_cached
def shingle_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, shared): per-pair count of co-occurring distinct
    shingles (doc_a < doc_b), generated through the shared-shingle
    equi-join over the persisted shingle frame. Built ONCE per
    (session, sf_dir) and persisted: q_dedup_ngram_jaccard,
    q_dedup_containment and q_dedup_lsh_tuning's exact-truth set each
    ran this IDENTICAL fact-scale self-join + pair aggregation — the
    single heavy stage of the shingle family (guide §1.2: don't
    recompute; §5: persist exactly the reused expensive frame; the
    co_edges precedent in operators/scale.py). The pair frame is
    orders of magnitude smaller than the join that built it (only
    co-occurring pairs materialize), so persisting it is the
    in-session analog of staging the pair table before a multi-metric
    dedup pass. The bench charges the build to the
    ``_build_shingle_pairs`` prelude row."""
    sh = shingle_frame(spark, sf_dir)
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
        .persist()
    )
    return pairs


@session_cached
def shingle_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n): distinct-shingle count per document (the shingle
    frame is distinct per doc by construction — shingles() applies
    array_distinct — so COUNT(*) ≡ COUNT(DISTINCT s)). Tiny frame,
    shared by every pair-metric consumer of shingle_pair_counts."""
    card = (
        shingle_frame(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    return card


@query("q_dedup_ngram_jaccard", oracle=_jaccard_oracle(), tags=("llm", "dedup"))
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard similarity ≥ 0.5. Pair generation joins on
    the shared shingle (only co-occurring pairs materialize — the join
    key is the shingle, bounded by shingle document-frequency; at scale,
    drop stop-shingles above a DF cap first). Pair counts and per-doc
    cardinalities come from the session-shared fixtures
    (shingle_pair_counts / shingle_card) — the same frames containment
    and the LSH-tuning truth set consume, built once."""
    shared = shingle_pair_counts(spark, sf_dir)
    card = shingle_card(spark, sf_dir)
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = card.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    )
    return (
        shared.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Dedup / similarity over embeddings
# ---------------------------------------------------------------------------

# Thresholds are operator parameters; these values are tuned to the
# synthetic embedding distribution (intra-label cosine tops out ≈ 0.47)
# so the differential tests exercise non-empty match sets. Production
# near-dup filtering would sit at ≥ 0.95 on real embeddings.
EMB_NEAR_DUP_COS = 0.40
PAIRWISE_COS = 0.25
TOPK = 20


@query(
    "q_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {EMB_NEAR_DUP_COS}
    """,
    tags=("llm", "dedup"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates (cos ≥ 0.99), candidate pairs
    bucketed by the coarse cluster label (IVF-style: at 100 TB the label
    comes from a trained k-means codebook; here it ships with the data).
    Cosine is a pure Catalyst fold — no UDF. Norms are precomputed per
    vector before the join (one fold per pair, not three; same IEEE-754
    bits as the per-pair form since the fold is identical). The probe
    side is spread across the cluster before the broadcast self-join —
    a single-file scan would otherwise run the whole per-pair fold
    stage on one core (guide §2.6)."""
    e = load_table(spark, sf_dir, "embeddings")
    nrmd = lambda df: df.withColumn("nrm", norm(F.col("embedding")))  # noqa: E731
    a, b = nrmd(spread(e)).alias("a"), nrmd(e).alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= EMB_NEAR_DUP_COS)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )


@query(
    "q_sim_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           round({duck_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY round({duck_cosine('e.embedding', 'q.qv')}, 6) DESC, e.vec_id
    LIMIT {TOPK}
    """,
    tags=("llm", "similarity"),
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one query vector — the exact
    baseline every ANN variant is measured against. The query vector is
    broadcast (1 row); ranking is TakeOrderedAndProject, so only k rows
    per partition survive. Deterministic: ties broken by vec_id on the
    6-dp-rounded score."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    cos = cosine(F.col("embedding"), F.col("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(
            "vec_id", "label", F.round(cos, 6).alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


@query(
    "q_sim_pairwise_join",
    oracle=f"""
    SELECT a.label, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(MIN({duck_cosine('a.embedding', 'b.embedding')}), 6) AS min_cos
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {PAIRWISE_COS}
    GROUP BY a.label
    """,
    tags=("llm", "similarity"),
)
def q_sim_pairwise_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed pairwise similarity join (cos ≥ 0.9) summarized per
    cluster. The label equi-join keeps the pair space to Σ n_c² instead
    of N² — the scale path for all-pairs similarity. Norms precomputed
    per vector (see q_dedup_embedding); probe side spread so the pair
    fold stage runs on every core (guide §2.6)."""
    e = load_table(spark, sf_dir, "embeddings")
    nrmd = lambda df: df.withColumn("nrm", norm(F.col("embedding")))  # noqa: E731
    a, b = nrmd(spread(e)).alias("a"), nrmd(e).alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= PAIRWISE_COS)
        .groupBy(F.col("a.label").alias("label"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.min(cos), 6).alias("min_cos"),
        )
    )


# Transitive-closure clusters oracle, shared by both connected-components
# implementations (label propagation and large-star/small-star): fine at
# test SF, quadratic in general — which is why the engine side iterates.
_CLUSTERS_ORACLE = (
    _minhash_cte().replace("WITH toks", "WITH RECURSIVE toks", 1)
    + """
    , pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
        WHERE a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    members AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src
    )
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM members GROUP BY cluster_id
    """
)


@query(
    "q_dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    tags=("llm", "dedup", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clusters*: connected components over the MinHash
    candidate-pair graph (pairs alone aren't actionable — keeping one
    representative per component is what a dedup pipeline actually
    does). Iterative min-label propagation: every doc starts labeled
    with its own id; each round every doc takes the min label in its
    neighborhood; fixpoint in O(diameter) rounds.

    This is the engine's iterative-algorithm pattern: a driver-side
    loop over DataFrame ops with the label frame LINEAGE-TRUNCATED per
    round (localCheckpoint) and convergence tested by an aggregate — no
    collect of the data itself. Truncation matters more than caching:
    with persist() alone the logical plan deepens every round and
    Catalyst re-analyzes the whole history each iteration (measured 3×
    slower by round 4); checkpointing pins each round's labels as a
    fresh scan. At 100 TB use checkpoint() to reliable storage instead
    (localCheckpoint pins executors, losing one loses the round) — same
    loop, durable truncation. (DuckDB oracle: WITH RECURSIVE transitive
    closure — fine at test SF, quadratic in general, which is why the
    engine side iterates instead.) Each round is one self-join shuffle
    on doc_id; large-diameter graphs switch to alternating
    large-star/small-star (same loop shape). A chain that needs more
    than ``CC_MAX_ROUNDS`` rounds raises instead of returning
    truncated labels."""
    pairs = q_dedup_minhash(spark, sf_dir)
    labels, _ = min_label_components(
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
    )
    return labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count("*").alias("cluster_size")
    )


CC_MAX_ROUNDS = 15


def min_label_components(und_pairs: DataFrame) -> tuple[DataFrame, int]:
    """Min-label propagation over an undirected (a, b) pair frame: the
    O(diameter) counterpart of star_components_from_edges. Returns
    (labels(doc_id, label=component min), n_rounds); raises when the
    labels still change after ``CC_MAX_ROUNDS`` rounds."""
    edges = (
        und_pairs.selectExpr("a AS src", "b AS dst")
        .union(und_pairs.selectExpr("b AS src", "a AS dst"))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )

    def step(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        return (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    "label", F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )

    # Per-node labels only ever decrease, so an unchanged sum ⇔
    # fixpoint — one aggregate instead of a join.
    def label_sum(labels: DataFrame) -> int | None:
        return labels.agg(F.sum("label")).collect()[0][0]

    return fixpoint(
        labels,
        step,
        label_sum,
        max_rounds=CC_MAX_ROUNDS,
        name="min_label_components",
        prev=label_sum(labels),
    )


_KEEPER_ORACLE = (
    _minhash_cte().replace("WITH toks", "WITH RECURSIVE toks", 1)
    + """
    , pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
        WHERE a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    members AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    q AS (
        SELECT doc_id,
               len(list_distinct(str_split(lower(text), ' '))) * 1000000
                   // len(str_split(lower(text), ' ')) AS quality_ppm
        FROM documents
    ),
    ranked AS (
        SELECT m.cluster_id, m.doc_id, q.quality_ppm,
               row_number() OVER (PARTITION BY m.cluster_id
                                  ORDER BY q.quality_ppm DESC, m.doc_id)
                   AS rn
        FROM members m JOIN q USING (doc_id)
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS keeper_doc,
           CAST(MAX(CASE WHEN rn = 1 THEN quality_ppm END) AS BIGINT)
               AS keeper_quality_ppm
    FROM ranked GROUP BY cluster_id
    """
)


@query(
    "q_curate_dedup_keeper",
    oracle=_KEEPER_ORACLE,
    tags=("llm", "dedup", "curation"),
)
def q_curate_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection — the decision a dedup pipeline actually ships:
    within each near-dup cluster (star-CC over the MinHash pair graph),
    KEEP the highest-quality member (unique-token-ratio ppm, ties to
    the lowest doc_id) and drop the rest. min-doc_id keeper policies
    are a silent quality bug at corpus scale (the earliest crawl of a
    page is often the worst); this operator makes the policy explicit
    and auditable per cluster.

    100 TB shape: membership comes from the O(log n) star-CC labels;
    quality is a map-only per-doc expression; keeper election is ONE
    max-of-struct hash aggregate per cluster (map-side combinable) —
    no per-cluster sort, no window over the corpus."""
    labels, _ = star_components(spark, sf_dir)
    quality = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "size(array_distinct(split(lower(text), ' '))) * 1000000"
            " div size(split(lower(text), ' '))"
        ).alias("quality_ppm"),
    )
    j = labels.join(quality, "doc_id")
    # keeper = max (quality_ppm, -doc_id): highest quality, tie → lowest id
    pick = F.max(
        F.struct(
            F.col("quality_ppm").alias("q"),
            (-F.col("doc_id")).alias("neg_id"),
        )
    ).alias("p")
    return (
        j.groupBy(F.col("label").alias("cluster_id"))
        .agg(F.count("*").alias("cluster_size"), pick)
        .select(
            "cluster_id",
            "cluster_size",
            (-F.col("p.neg_id")).alias("keeper_doc"),
            F.col("p.q").alias("keeper_quality_ppm"),
        )
    )


STAR_MAX_ROUNDS = 12


@session_cached
def star_components(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond") over the
    MinHash candidate-pair graph. Returns (labels, n_rounds) where
    labels = (doc_id, label=component min).

    One round = large-star (attach every strictly-larger neighbor of u
    to m = min(Γ(u) ∪ {u})) then small-star (attach every smaller
    neighbor and u itself to m). Both are one groupBy + one join over
    the edge frame; the edge set contracts toward stars rooted at each
    component's min in O(log n) rounds REGARDLESS of graph diameter —
    the production-scale form of q_dedup_clusters, whose min-label
    propagation needs O(diameter) rounds and loses on path-shaped
    near-dup chains. Same loop mechanics: localCheckpoint per round
    (lineage truncation), aggregate-only convergence (edge count +
    endpoint sum — each star op only ever lowers endpoints, so an
    unchanged pair ⇔ fixpoint), no data collect. The loop raises if
    it has not converged after ``STAR_MAX_ROUNDS`` rounds.

    The labels are built ONCE per (session, sf_dir) and persisted —
    q_curate_dedup_keeper and q_dedup_clusters_star each re-ran the
    whole multi-round loop (a driver-job-bound stage: ~2 jobs/round
    over a tiny edge frame) for the identical label set (guide §1.2;
    the co_edges precedent). The bench charges the one build to the
    ``_build_star_components`` prelude row."""
    pairs = q_dedup_minhash(spark, sf_dir)
    labels, rounds = star_components_from_edges(
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
    )
    labels = labels.persist()
    return labels, rounds


def star_components_from_edges(und_pairs: DataFrame) -> tuple[DataFrame, int]:
    """Generic alternating large-star/small-star loop over an
    undirected (a, b) pair frame — the graph-agnostic core of
    star_components, reused by q_dbscan_clusters for core-point
    clustering. Returns (labels(doc_id, label), n_rounds); nodes with
    no edges are absent (callers union isolated nodes back).

    The candidate-edge frame is micro-batch-sized by construction
    (LSH candidates / core ε-edges, not the corpus), so the loop runs
    under a scoped shuffle-partition count of 8 — per-round task
    overhead, not data volume, dominates this stage's wall-clock. At
    true scale raise it with the edge count (the knob is one conf)."""
    spark = und_pairs.sparkSession
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _star_loop(und_pairs)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def _star_loop(und_pairs: DataFrame) -> tuple[DataFrame, int]:
    def step(und: DataFrame) -> DataFrame:
        for large in (True, False):
            adj = und.union(
                und.select(F.col("b").alias("a"), F.col("a").alias("b"))
            ).select(F.col("a").alias("u"), F.col("b").alias("v"))
            m = adj.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("m")
            )
            j = adj.join(m, "u")
            if large:
                new = j.filter(F.col("v") > F.col("u")).select(
                    F.col("v").alias("a"), F.col("m").alias("b")
                )
            else:
                new = (
                    j.filter(F.col("v") < F.col("u"))
                    .select(F.col("v").alias("a"), F.col("m").alias("b"))
                    .union(
                        m.select(F.col("u").alias("a"), F.col("m").alias("b"))
                    )
                )
            und = new.filter(F.col("a") != F.col("b")).distinct()
        # Truncate lineage once per ROUND (after small-star): the
        # large-star intermediate stays lazy, halving per-round
        # materializations; two star ops of lineage is shallow
        # enough for Catalyst.
        return und.localCheckpoint()

    def signature(und: DataFrame):
        return und.agg(
            F.count("*").alias("n"), F.sum(F.col("a") + F.col("b")).alias("s")
        ).collect()[0]

    und, rounds = fixpoint(
        und_pairs.selectExpr("a", "b").distinct().localCheckpoint(),
        step,
        signature,
        max_rounds=STAR_MAX_ROUNDS,
        name="star_components",
    )
    # At fixpoint edges are stars (v, root): larger side → component min.
    stars = und.select(
        F.greatest("a", "b").alias("doc_id"), F.least("a", "b").alias("root")
    ).groupBy("doc_id").agg(F.min("root").alias("root"))
    nodes = (
        und.select(F.col("a").alias("doc_id"))
        .union(und.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    labels = nodes.join(stars, "doc_id", "left").select(
        "doc_id", F.coalesce("root", F.col("doc_id")).alias("label")
    )
    return labels, rounds


@query(
    "q_dedup_clusters_star",
    oracle=_CLUSTERS_ORACLE,
    tags=("llm", "dedup", "iterative"),
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via alternating large-star/small-star — the
    O(log n)-round, diameter-independent connected components (see
    star_components). Same output contract and oracle as
    q_dedup_clusters; tests/test_ann_recall.py::test_star_components_*
    pin cross-implementation agreement and the round bound."""
    labels, _ = star_components(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count("*").alias("cluster_size")
    )


ANN_NPROBE = 3
IVF_ITERS = 2  # Lloyd iterations after the label-seeded init


def _ivf_m_step(assigned: DataFrame) -> DataFrame:
    """k-means M-step, exact across engines: per-cell means via int64
    milli-quantization (FLOOR(v*1000) — same trick as q_embed_centroid,
    order-independent integer sums, one IEEE division per component),
    reassembled into a pos-sorted double array per cell. Input carries
    (vec_id, cell, embedding); shape is posexplode → hash agg on
    (cell, pos) → k-row collect. At 100 TB only k×dim partial sums
    shuffle (map-side combine), never raw vectors."""
    pos = assigned.select(
        "cell", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "cell", "pos", F.floor(F.col("v").cast("double") * 1000).alias("sv")
    )
    comp = (
        pos.groupBy("cell", "pos")
        .agg(F.sum("sv").alias("s"), F.count("*").alias("n"))
        .select(
            "cell",
            "pos",
            (F.col("s").cast("double") / (F.lit(1000.0) * F.col("n"))).alias(
                "cv"
            ),
        )
    )
    return comp.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))),
            lambda s: s["cv"],
        ).alias("cvec")
    )


def _ivf_e_step(e: DataFrame, cb: DataFrame) -> DataFrame:
    """k-means E-step: nearest centroid by 6-dp-rounded cosine, ties to
    the lowest cell id — deterministic, so Spark's max-of-struct agg and
    the oracle's row_number pick identical cells. The codebook (k×dim)
    is broadcast; the argmax is one map-side-combinable hash agg (the
    embedding rides through F.first, every duplicate carries the same
    value), so no second shuffle joins the assignment back to its
    vector."""
    # Norms are projected per ROW (vector side) and per CELL (codebook
    # side) below the crossJoin, so per-(vector, cell) work is ONE dot
    # fold instead of three — d/(na·nb) is the identical double to the
    # fused cosine (same ops, same order), the q_sim_knn_graph argument.
    ev = e.withColumn("_nrm", norm(F.col("embedding")))
    cbn = cb.withColumn("_cnrm", norm(F.col("cvec")))
    c = F.round(
        dot(F.col("embedding"), F.col("cvec"))
        / (F.col("_nrm") * F.col("_cnrm")),
        6,
    )
    scored = ev.crossJoin(F.broadcast(cbn)).select(
        "vec_id", "cell", c.alias("c"), "embedding"
    )
    pick = F.max(
        F.struct(
            F.col("c"),
            (-F.col("cell")).alias("neg_cell"),
            F.col("cell").alias("cell"),
        )
    )
    return scored.groupBy("vec_id").agg(
        pick.getField("cell").alias("cell"),
        F.first("embedding").alias("embedding"),
    )


# Round-15 REJECTED experiment (kept as a note so it isn't retried):
# collecting the tiny per-round Lloyd/power-iteration state frames into
# LocalRelations (`createDataFrame(df.collect(), df.schema)`) to kill
# the per-round localCheckpoint physical-plan/RDD compile measured as
# the trainer cost in OPTIMIZATION_r14.md entry 14. Cold alternating-
# session A/B ×3 at sf0.1/32 cores: ivf_train 5.1-5.4 → 7.0-7.6 s,
# _top_pc_frames 3.7-4.2 → 5.5-6.0 s, pq variants +0.3-0.7 s each,
# q_sample_kcenter warm 2.2-2.5 → 4.4-4.6 s. The per-round blocking
# collect + driver-side createDataFrame costs MORE than the lazy
# toRdd compile it removes; the lazy-checkpoint chain pipelines all
# rounds into the one materializing job and stays the right shape.


@session_cached
def ivf_train(
    spark: SparkSession, sf_dir: str, where: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Train the IVF coarse quantizer: label-seeded init, ``IVF_ITERS``
    Lloyd rounds, then a final E-step that builds the inverted lists
    against the final codebook. Returns (codebook, members) where
    codebook = (cell, cvec double array) and members = (vec_id, cell,
    embedding). Fixed iteration count — the driver loop makes no
    .collect() calls; each k-row codebook is localCheckpoint'd so plan
    lineage stays flat across rounds (the q_dedup_clusters pattern)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    if where is not None:
        e = e.filter(where)
    assigned = e.select(
        "vec_id", F.col("label").cast("long").alias("cell"), "embedding"
    )
    # Per-round checkpoints are LAZY: lineage still truncates, but the
    # Lloyd rounds chain into the one job that materializes `members`
    # below instead of one blocking driver job per round (guide §1.2 —
    # the loop is job-count-bound). `members` stays EAGER so calling
    # the trainer materializes the whole chain — bench.py's prelude
    # rows rely on that for cost attribution, and the final cb RDD is
    # computed (and cached) inside the same job via its broadcast.
    # (A collected-LocalRelation state variant was A/B'd and REJECTED
    # round 15 — see the note above ivf_train.)
    cb = _ivf_m_step(assigned).localCheckpoint(eager=False)
    for _ in range(IVF_ITERS):
        assigned = _ivf_e_step(e, cb)
        cb = _ivf_m_step(assigned).localCheckpoint(eager=False)
    members = _ivf_e_step(e, cb).localCheckpoint()
    return cb, members


def _ivf_ctes(
    prefix: str = "",
    nprobe: int = ANN_NPROBE,
    src: str = "embeddings",
) -> tuple[list[str], str, str, str]:
    """DuckDB mirror of ivf_train + the single-query probe, unrolled as
    one CTE chain per Lloyd round. ``prefix`` namespaces every CTE so
    the chain can compose with other chains (the ADC oracle runs it
    next to the PQ chain, whose asg{i}/cent{i} names would otherwise
    collide). Returns (ctes, last_cb, last_asg, probed)."""
    P = prefix
    ctes = [
        f"{P}pos AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,"
        f" unnest(embedding) AS v FROM {src})",
        f"{P}q AS (SELECT embedding AS qv FROM {src} WHERE vec_id = 0)",
        f"{P}asg0 AS (SELECT vec_id, CAST(label AS BIGINT) AS cell"
        f" FROM {src})",
    ]
    for i in range(IVF_ITERS + 1):
        ctes.append(
            f"""{P}cent{i} AS (
        SELECT a.cell, p.pos,
               SUM(CAST(FLOOR(CAST(p.v AS DOUBLE) * 1000) AS BIGINT)) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM {P}pos p JOIN {P}asg{i} a USING (vec_id)
        GROUP BY a.cell, p.pos
    )"""
        )
        ctes.append(
            f"""{P}cb{i} AS (
        SELECT cell, list(CAST(s AS DOUBLE) / (1000.0 * n) ORDER BY pos)
            AS cvec
        FROM {P}cent{i} GROUP BY cell
    )"""
        )
        ctes.append(
            f"""{P}asg{i + 1} AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({duck_cosine("e.embedding", "c.cvec")},
                                      6) DESC,
                                c.cell
                   ) AS rn
            FROM {src} e CROSS JOIN {P}cb{i} c
        ) WHERE rn = 1
    )"""
        )
    last_cb, last_asg = f"{P}cb{IVF_ITERS}", f"{P}asg{IVF_ITERS + 1}"
    ctes.append(
        f"""{P}probed AS (
        SELECT cell FROM {last_cb} CROSS JOIN {P}q
        ORDER BY round({duck_cosine(f"{last_cb}.cvec", f"{P}q.qv")}, 6) DESC,
                 cell
        LIMIT {nprobe}
    )"""
    )
    return ctes, last_cb, last_asg, f"{P}probed"


def _ivf_oracle() -> str:
    ctes, _last_cb, last_asg, probed = _ivf_ctes()
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT e.vec_id, a.cell,
           round({duck_cosine("e.embedding", "q.qv")}, 6) AS cos_sim
    FROM embeddings e JOIN {last_asg} a USING (vec_id) CROSS JOIN q
    WHERE a.cell IN (SELECT cell FROM probed) AND e.vec_id <> 0
    ORDER BY round({duck_cosine("e.embedding", "q.qv")}, 6) DESC, e.vec_id
    LIMIT {TOPK}
    """
    )


@query("q_sim_ann_ivf", oracle=_ivf_oracle(), tags=("llm", "similarity"))
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with a TRAINED coarse quantizer: k-means
    codebook (label-seeded, 2 Lloyd rounds — exact-arithmetic E/M steps
    so DuckDB reproduces the training bit-for-bit), probe the
    ``ANN_NPROBE`` cells whose centroid scores highest against the
    query, then brute-force rank inside the probed inverted lists.
    Recall vs the brute-force baseline (q_sim_cosine_topk) is pinned by
    tests/test_llm.py::test_ivf_recall.

    Scale shape: the codebook is k×dim and broadcast everywhere it is
    used; training shuffles only k×dim quantized partial sums per round;
    the probe scans nprobe/ncells of the data — which partition-prunes
    when the table is written partitioned by cell. This is the standard
    IVF trade, now with the production codebook rather than a
    representative-member stand-in."""
    cb, members = ivf_train(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    probe_cos = cosine(F.col("cvec"), F.col("qv"))
    probed = (
        cb.crossJoin(qv)
        .select("cell", F.round(probe_cos, 6).alias("pc"))
        .orderBy(F.col("pc").desc(), F.col("cell"))
        .limit(ANN_NPROBE)
        .select("cell")
    )
    cos = cosine(F.col("embedding"), F.col("qv"))
    return (
        members.join(F.broadcast(probed), "cell", "left_semi")
        .filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select("vec_id", "cell", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


SPLIT_RATIO = 1.0  # split cells with occupancy > ratio × mean
SPLIT_NPROBE = 12  # equal CANDIDATE budget: 12/15 fine cells ≈ 8/10 coarse


@session_cached
def ivf_cell_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Act on the q_sim_route_balance audit: SPLIT the hot IVF cells.

    Cells whose membership exceeds ``SPLIT_RATIO`` × mean occupancy are
    replaced by two centroids seeded from the cell's two farthest
    members — the member farthest from the centroid, then the member
    farthest from THAT one (the deterministic 2-means init) — followed
    by one full Lloyd round over the refined codebook. On this fixture
    (near-balanced membership) ratio 1.0 splits 5 of 10 cells → 15;
    production deployments set 2.0 so only true hot cells pay a
    re-train. Measured at sf0.1: the split index serves recall@20 =
    0.90 at the SAME candidate budget the coarse index spends for 0.85
    (12/15 cells ≈ 1594 candidates vs 8/10 ≈ 1600), and matches 0.85
    while scanning 19% fewer candidates at nprobe=10 — finer cells
    shift the recall/scan-cost frontier (tests/test_ann_recall.py).

    No driver-side collect anywhere: the mean is a 1-row broadcast,
    hot cells a broadcast semi/anti join, seed election two windowed
    argmins partitioned by cell. 100 TB shape: identical to ivf_train
    (k×dim quantized partial sums shuffle; vectors never do)."""
    cb, members = ivf_train(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    occ = members.groupBy("cell").agg(F.count("*").alias("n"))
    mean_n = occ.agg(F.avg("n").alias("mean_n"))
    hot = (
        occ.crossJoin(F.broadcast(mean_n))
        .filter(F.col("n") > F.lit(SPLIT_RATIO) * F.col("mean_n"))
        .select("cell")
    )
    memb_hot = members.join(F.broadcast(hot), "cell", "left_semi")
    with_cent = memb_hot.join(F.broadcast(cb), "cell")
    w1 = Window.partitionBy("cell").orderBy(
        F.round(cosine(F.col("embedding"), F.col("cvec")), 6).asc(),
        F.col("vec_id").asc(),
    )
    m1 = (
        with_cent.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("cell", F.col("embedding").alias("m1"))
    )
    w2 = Window.partitionBy("cell").orderBy(
        F.round(cosine(F.col("embedding"), F.col("m1")), 6).asc(),
        F.col("vec_id").asc(),
    )
    m2 = (
        memb_hot.join(F.broadcast(m1), "cell")
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("cell", F.col("embedding").alias("m2"))
    )
    # New-cell ids offset by max(cell)+1 derived FROM the codebook (a
    # 1-row broadcast over the k-row frame), so split ids can never
    # collide with existing cells however large the coarse codebook.
    max_cell = cb.agg(F.max("cell").alias("max_cell"))
    seeds = m1.select(
        "cell", F.col("m1").cast("array<double>").alias("cvec")
    ).union(
        m2.crossJoin(F.broadcast(max_cell)).select(
            (F.col("max_cell") + 1 + F.col("cell")).alias("cell"),
            F.col("m2").cast("array<double>").alias("cvec"),
        )
    )
    cb_seed = (
        cb.join(F.broadcast(hot), "cell", "left_anti")
        .union(seeds)
        .localCheckpoint()
    )
    cb2 = _ivf_m_step(_ivf_e_step(e, cb_seed)).localCheckpoint()
    members2 = _ivf_e_step(e, cb2).localCheckpoint()
    return cb2, members2


def _ivf_split_oracle() -> str:
    """The whole split pipeline as one CTE chain: ivf_train's unrolled
    rounds (reused via _ivf_ctes), occupancy → hot set → farthest-pair
    seed election → seeded E-step → M-step → final members → probe →
    serve. Same quantized arithmetic as the engine at every step."""
    ctes, last_cb, last_asg, _probed = _ivf_ctes()
    cos_qc = duck_cosine("e.embedding", "c.cvec")
    estep = (
        "SELECT vec_id, cell FROM ("
        " SELECT e.vec_id, c.cell,"
        f" row_number() OVER (PARTITION BY e.vec_id"
        f" ORDER BY round({cos_qc}, 6) DESC, c.cell) AS rn"
        " FROM embeddings e CROSS JOIN {cb} c) WHERE rn = 1"
    )
    ctes += [
        f"s_occ AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n"
        f" FROM {last_asg} GROUP BY cell)",
        f"s_hot AS (SELECT cell FROM s_occ"
        f" WHERE n > (SELECT AVG(n) FROM s_occ) * {SPLIT_RATIO})",
        f"s_mh AS (SELECT a.cell, e.vec_id, e.embedding"
        f" FROM embeddings e JOIN {last_asg} a USING (vec_id)"
        f" WHERE a.cell IN (SELECT cell FROM s_hot))",
        "s_m1 AS (SELECT cell, embedding FROM ("
        " SELECT mh.cell, mh.vec_id, mh.embedding,"
        " row_number() OVER (PARTITION BY mh.cell ORDER BY"
        f" round({duck_cosine('mh.embedding', 'cb.cvec')}, 6) ASC,"
        " mh.vec_id) AS rn"
        f" FROM s_mh mh JOIN {last_cb} cb USING (cell)) WHERE rn = 1)",
        "s_m2 AS (SELECT cell, embedding FROM ("
        " SELECT mh.cell, mh.vec_id, mh.embedding,"
        " row_number() OVER (PARTITION BY mh.cell ORDER BY"
        f" round({duck_cosine('mh.embedding', 'm1.embedding')}, 6) ASC,"
        " mh.vec_id) AS rn"
        " FROM s_mh mh JOIN s_m1 m1 USING (cell)) WHERE rn = 1)",
        f"s_cbseed AS (SELECT cell, cvec FROM {last_cb}"
        " WHERE cell NOT IN (SELECT cell FROM s_hot)"
        " UNION ALL SELECT cell,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) FROM s_m1"
        f" UNION ALL SELECT (SELECT MAX(cell) + 1 FROM {last_cb}) + cell,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) FROM s_m2)",
        "s_asg AS (" + estep.format(cb="s_cbseed") + ")",
        "s_cent AS (SELECT a.cell, p.pos,"
        " SUM(CAST(FLOOR(CAST(p.v AS DOUBLE) * 1000) AS BIGINT)) AS s,"
        " CAST(COUNT(*) AS BIGINT) AS n"
        " FROM pos p JOIN s_asg a USING (vec_id) GROUP BY a.cell, p.pos)",
        "s_cb AS (SELECT cell,"
        " list(CAST(s AS DOUBLE) / (1000.0 * n) ORDER BY pos) AS cvec"
        " FROM s_cent GROUP BY cell)",
        "s_members AS (" + estep.format(cb="s_cb") + ")",
        "s_probed AS (SELECT cell FROM s_cb CROSS JOIN q"
        f" ORDER BY round({duck_cosine('s_cb.cvec', 'q.qv')}, 6) DESC, cell"
        f" LIMIT {SPLIT_NPROBE})",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT e.vec_id, a.cell,
           round({duck_cosine("e.embedding", "q.qv")}, 6) AS cos_sim
    FROM embeddings e JOIN s_members a USING (vec_id) CROSS JOIN q
    WHERE a.cell IN (SELECT cell FROM s_probed) AND e.vec_id <> 0
    ORDER BY round({duck_cosine("e.embedding", "q.qv")}, 6) DESC, e.vec_id
    LIMIT {TOPK}
    """
    )


@query(
    "q_sim_ivf_cell_split",
    oracle=_ivf_split_oracle(),
    tags=("llm", "similarity", "iterative"),
)
def q_sim_ivf_cell_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving from the SPLIT index (see ivf_cell_split): probe the
    SPLIT_NPROBE=12 best fine cells — the same candidate budget the
    coarse index spends on 8 of 10 cells — and brute-force rank inside
    the probed inverted lists. This is the consumer of the
    q_sim_route_balance audit (VERDICT r7 ask #5): hot cells split,
    recall@20 rises 0.85 → 0.90 at sf0.1 at unchanged scan cost
    (contract in tests/test_ann_recall.py). Oracle replays training +
    split + re-train + serve in exact quantized arithmetic."""
    cb2, members2 = ivf_cell_split(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    probed = (
        cb2.crossJoin(qv)
        .select(
            "cell", F.round(cosine(F.col("cvec"), F.col("qv")), 6).alias("pc")
        )
        .orderBy(F.col("pc").desc(), F.col("cell"))
        .limit(SPLIT_NPROBE)
        .select("cell")
    )
    cos = cosine(F.col("embedding"), F.col("qv"))
    return (
        members2.join(F.broadcast(probed), "cell", "left_semi")
        .filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select("vec_id", "cell", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


PQ_M = 4  # product-quantization subspaces (64-dim → 4 × 16)
PQ_K = 8  # codes per subspace codebook
PQ_ITERS = 2  # Lloyd rounds per subspace after the modulo-seeded init


def _pq_ctes(
    m: int = PQ_M, k: int = PQ_K, src: str = "embeddings"
) -> list[str]:
    """CTE chain reproducing pq training bit-for-bit in DuckDB; shared
    by q_embed_pq_codes' oracle and the ADC top-k oracle. Final codes
    live in asg{PQ_ITERS}; the codebook those codes refer to (the one
    they were assigned against) is cent{PQ_ITERS - 1}.  ``src`` lets
    the incremental-add oracle train on a base SUBSET CTE."""
    ctes = [
        f"""pos0 AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS v, len(embedding) AS dlen
        FROM {src}
    )""",
        f"""comp AS (
        SELECT vec_id, CAST((pos * {m}) // dlen AS INTEGER) AS subspace,
               pos, CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT) AS sv
        FROM pos0
    )""",
        f"""asg0 AS (
        SELECT DISTINCT vec_id, subspace,
               CAST(vec_id % {k} AS INTEGER) AS code
        FROM comp
    )""",
    ]
    for i in range(PQ_ITERS):
        ctes.append(
            f"""cent{i} AS (
        SELECT c.subspace, a.code, c.pos,
               CAST(FLOOR(CAST(SUM(c.sv) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS icv
        FROM comp c JOIN asg{i} a
          ON a.vec_id = c.vec_id AND a.subspace = c.subspace
        GROUP BY c.subspace, a.code, c.pos
    )"""
        )
        ctes.append(
            f"""dist{i} AS (
        SELECT c.vec_id, c.subspace, t.code,
               SUM((c.sv - t.icv) * (c.sv - t.icv)) AS dist
        FROM comp c JOIN cent{i} t
          ON t.subspace = c.subspace AND t.pos = c.pos
        GROUP BY c.vec_id, c.subspace, t.code
    )"""
        )
        ctes.append(
            f"""asg{i + 1} AS (
        SELECT vec_id, subspace, code, dist FROM (
            SELECT vec_id, subspace, code, dist,
                   row_number() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY dist, code) AS rn
            FROM dist{i}
        ) WHERE rn = 1
    )"""
        )
    return ctes


def _pq_oracle() -> str:
    return (
        "WITH "
        + ",\n    ".join(_pq_ctes())
        + f"""
    SELECT subspace, code, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(dist) AS BIGINT) AS sse_milli
    FROM asg{PQ_ITERS} GROUP BY subspace, code
    """
    )


@session_cached
def pq_train(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    k: int = PQ_K,
    where: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the PQ codebooks (modulo-seeded init, PQ_ITERS Lloyd
    rounds, all arithmetic int64 milli-units — see q_embed_pq_codes).
    Returns (comp, cent, codes): the milli-quantized component frame
    (vec_id, subspace, pos, sv), the codebook the final assignment was
    made against (subspace, code, pos, icv), and the final per-vector
    codes (vec_id, subspace, code, dist)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if where is not None:
        e = e.filter(where)
    comp = (
        e.select(
            "vec_id",
            F.size("embedding").alias("dlen"),
            F.posexplode("embedding").alias("pos", "v"),
        )
        .select(
            "vec_id",
            F.expr(f"CAST((pos * {m}) DIV dlen AS INT)").alias("subspace"),
            "pos",
            F.floor(F.col("v").cast("double") * 1000)
            .cast("long")
            .alias("sv"),
        )
        # Lazy: materializes (once) inside the first Lloyd-round job;
        # the final asg checkpoint in _pq_lloyd stays EAGER so the
        # bench prelude still pays the whole training bill (§1.2).
        .localCheckpoint(eager=False)
    )
    cent, asg = _pq_lloyd(comp, k)
    return comp, cent, asg


def _pq_lloyd(comp: DataFrame, k: int) -> tuple:
    """The PQ Lloyd loop (modulo-seeded init, ``PQ_ITERS`` rounds) on
    an already-built component frame (vec_id, subspace, pos, sv) —
    shared by contiguous-subspace ``pq_train`` and the OPQ-remapped
    training of ``q_embed_opq_rotate``. Returns (cent, asg)."""
    asg = comp.select(
        "vec_id", "subspace", (F.col("vec_id") % k).cast("int").alias("code")
    ).distinct()
    cent = None
    for _ in range(PQ_ITERS):
        cent = (
            comp.join(asg, ["vec_id", "subspace"])
            .groupBy("subspace", "code", "pos")
            .agg(F.sum("sv").alias("s"), F.count("*").alias("n"))
            .select(
                "subspace",
                "code",
                "pos",
                F.floor(F.col("s").cast("double") / F.col("n"))
                .cast("long")
                .alias("icv"),
            )
            .localCheckpoint(eager=False)
        )
        diff = F.col("sv") - F.col("icv")
        dist = (
            comp.join(F.broadcast(cent), ["subspace", "pos"])
            .groupBy("vec_id", "subspace", "code")
            .agg(F.sum(diff * diff).alias("dist"))
        )
        asg = (
            dist.groupBy("vec_id", "subspace")
            .agg(F.min(F.struct("dist", "code")).alias("p"))
            .select(
                "vec_id",
                "subspace",
                F.col("p.code").alias("code"),
                F.col("p.dist").alias("dist"),
            )
        )
    return cent, asg.localCheckpoint()


@query("q_embed_pq_codes", oracle=_pq_oracle(), tags=("llm", "similarity"))
def q_embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the memory side of billion-scale ANN
    (IVF-PQ): each vector splits into M=4 subvectors, each subspace
    trains its own K=8-entry codebook (2 Lloyd rounds, modulo-seeded),
    and a vector compresses to M small codes (64 floats → 4 codes =
    64× smaller residency). Reported per (subspace, code): inverted-
    list size and total quantization error — the codebook-quality
    audit a PQ build job emits. All distance arithmetic runs in int64
    milli-units (component FLOOR(v·1000), centroid floor-of-mean)
    so DuckDB reproduces training bit-for-bit — the q_sim_ann_ivf
    trick, applied per subspace with (subspace, code) as the compound
    cluster key so all M codebooks train in the SAME aggregates (one
    shuffle per Lloyd step, not M).

    100 TB shape: the component frame (n·d rows) is the only big
    frame; every M-step is a map-side-combined hash agg down to
    M·K·(d/M) = K·d centroid rows, and every E-step joins components
    against the BROADCAST centroid table (n·d·K component-distance
    rows, linear in n). Codebooks stay k·d floats forever. The final
    int64 SSE accumulator holds to ~10¹⁸; per-shard DECIMAL partials
    take over beyond (documented, same bound family as q_agg_gini's
    16× fix)."""
    _, _, asg = pq_train(spark, sf_dir)
    return asg.groupBy("subspace", "code").agg(
        F.count("*").alias("n_vecs"), F.sum("dist").alias("sse_milli")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle="""
    SELECT lang,
           CAST(LEAST(n_chars // 100, 9) AS INTEGER) AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
           SUM(n_chars) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang, LEAST(n_chars // 100, 9)
    """,
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per (lang, length-bucket): doc counts, token totals,
    mean length — one partial-aggregated groupBy."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.expr("n_chars div 100"), F.lit(9)).cast("int")
    return (
        d.groupBy("lang", bucket.alias("len_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
            (F.sum("n_chars") / F.count("*")).alias("avg_chars"),
        )
    )


def _duck_stoplist(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@query(
    "q_text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
           {", ".join(
               f"len(list_intersect(list_distinct(str_split(lower(text), ' ')), "
               f"{_duck_stoplist(words)})) AS s_{lang}"
               for lang, words in STOPWORDS.items()
           )}
        FROM documents
    )
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en > 0 THEN 'en'
                WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
                WHEN s_de > 0 THEN 'de'
                ELSE 'und' END AS pred_lang
    FROM scored
    """,
    tags=("llm", "text"),
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: distinct-token overlap against per-lang
    stopword lists, argmax with fixed precedence (en > fr > de > und).
    Differential harness for the operator shape — a production system
    swaps in real stopword/char-n-gram tables, same plan."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens("text"))
    scored = d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[
            F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            ).alias(f"s_{lang}")
            for lang, words in STOPWORDS.items()
        ],
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") > 0),
            "en",
        )
        .when((F.col("s_fr") >= F.col("s_de")) & (F.col("s_fr") > 0), "fr")
        .when(F.col("s_de") > 0, "de")
        .otherwise("und")
    )
    return scored.select("doc_id", "actual_lang", pred.alias("pred_lang"))


@query(
    "q_text_quality",
    oracle="""
    WITH t AS (
        SELECT doc_id, text, str_split(lower(text), ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           len(list_distinct(toks)) / len(toks) AS uniq_ratio,
           len(regexp_extract_all(text, '[^a-z0-9 ]')) / length(text) AS punct_ratio,
           len(list_filter(toks, x -> list_contains(['the', 'a', 'and', 'order', 'table'], x)))
               / len(toks) AS stop_ratio,
           length(replace(text, ' ', '')) / len(toks) AS avg_token_len
    FROM t
    """,
    tags=("llm", "text"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals per doc: token count, type/token ratio,
    punctuation density, stopword density, mean token length — the
    standard cheap filters before expensive model-based scoring. All
    integer-ratio doubles (deterministic cross-engine)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("uniq_ratio"),
        (
            F.regexp_count("text", F.lit("[^a-z0-9 ]")) / F.length("text")
        ).alias("punct_ratio"),
        (
            F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
            / F.size(toks)
        ).alias("stop_ratio"),
        (
            F.length(F.regexp_replace("text", " ", "")) / F.size(toks)
        ).alias("avg_token_len"),
    )


@query(
    "q_text_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER)
               AS subword_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_computed
    FROM documents
    """,
    tags=("llm", "text"),
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (alpha runs + digit runs) — the cheap proxy pair used for data
    budgeting before a real tokenizer pass."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+")).alias("subword_tokens"),
        F.length("text").alias("n_chars_computed"),
    )


FP_MOD = 1_000_000_007


@query(
    "q_text_fingerprint",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_transform(str_split(lower(text), ' '),
                              x -> {duck_hex_hash('x')}) AS hs
        FROM documents
    )
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                       (acc, x) -> (acc * 31 + x) % {FP_MOD}) AS fingerprint
    FROM t
    """,
    tags=("llm", "text"),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over token hashes (mod 1e9+7) — a content signature that, unlike
    sha256(text), survives re-tokenization and supports incremental
    update. Pure Catalyst fold, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    hs = F.transform(tokens("text"), lambda x: hex_hash(x))
    fp = F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FP_MOD,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


@query(
    "q_text_tfidf_topterms",
    oracle="""
    WITH tk AS (
        SELECT source, doc_id, unnest(str_split(lower(text), ' ')) AS term
        FROM documents
    ),
    tf AS (SELECT source, term, COUNT(*) AS tf FROM tk GROUP BY source, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.source, tf.term,
               tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT source, term, round(tfidf, 6) AS tfidf, rnk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY tfidf DESC, term) AS INTEGER) AS rnk
        FROM scored) s
    WHERE rnk <= 5
    """,
    tags=("llm", "text"),
)
def q_text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf terms per source in ONE corpus pass: explode →
    (term, doc_id) grain agg → df as a count over the term window →
    tf as a re-agg that reuses the term partitioning.

    The tf/df branches used to each re-run the full explode (Spark
    does no CSE across branches — two corpus passes plus a third for
    n_docs; VERDICT r14 item 2). Now one partial-aggregated shuffle
    keyed (term, doc_id, source) collapses occurrences, df per term is
    count(*) over the term window on that doc-grain frame (the frame
    IS one row per (term, doc_id) — doc_id determines source), and the
    (source, term) re-agg adds no exchange because hash(term)
    partitioning already clusters it. Same tf (Σ occurrences), same
    df (distinct docs), same double expression → identical output."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("source", "doc_id", F.explode(tokens("text")).alias("term"))
    g = tk.groupBy("term", "doc_id", "source").agg(F.count("*").alias("c"))
    gd = g.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    tf = gd.groupBy("source", "term", "df").agg(F.sum("c").alias("tf"))
    n_docs = d.count()  # scalar query parameter (a count, not a collect loop)
    scored = tf.select(
        "source",
        "term",
        (
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
        ).alias("tfidf"),
    )
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "term", F.round("tfidf", 6).alias("tfidf"), "rnk")
    )


# ---------------------------------------------------------------------------
# Multimodal struct round-trip
# ---------------------------------------------------------------------------


@query(
    "q_multimodal_struct",
    oracle=f"""
    SELECT d.doc_id,
           d.lang AS meta_lang, d.source AS meta_source,
           CAST(d.n_chars AS BIGINT) AS meta_n_chars,
           CAST(len(e.embedding) AS INTEGER) AS emb_dim,
           round(CAST(e.embedding[1] AS DOUBLE), 6) AS emb_head
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    tags=("llm", "multimodal"),
)
def q_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row assembly: struct{text, embedding, meta{...}} built
    as a nested column and projected back out — exercises Parquet-style
    nested struct round-tripping (schema evolution surface for
    image/audio payloads)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    doc = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        F.struct(
            F.col("text").alias("text"),
            F.col("embedding").alias("embedding"),
            F.struct(
                F.col("lang").alias("lang"),
                F.col("source").alias("source"),
                F.col("n_chars").alias("n_chars"),
            ).alias("meta"),
        ).alias("mm"),
    )
    return doc.select(
        "doc_id",
        F.col("mm.meta.lang").alias("meta_lang"),
        F.col("mm.meta.source").alias("meta_source"),
        F.col("mm.meta.n_chars").alias("meta_n_chars"),
        F.size("mm.embedding").alias("emb_dim"),
        F.round(F.element_at("mm.embedding", 1).cast("double"), 6).alias(
            "emb_head"
        ),
    )


# ---------------------------------------------------------------------------
# Pipeline hygiene: PII redaction, sequence packing, centroids
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"


@query(
    "q_text_pii_redact",
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com or 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
               || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           CAST(length(text)
                - length(regexp_replace(text, '{_EMAIL_RE}', '', 'g'))
                AS BIGINT) AS email_chars,
           CAST((length(regexp_replace(text, '{_PHONE_RE}', '##', 'g'))
                - length(text)) / 2 + 1 AS BIGINT) AS n_phone_hits
    FROM enriched
    """,
    tags=("llm", "text"),
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: scrub email addresses and phone numbers to typed
    placeholder tokens — the standard pre-training hygiene pass. The
    corpus is synthetic word-soup, so deterministic PII is injected per
    doc (same construction in the oracle) and then redacted; counters
    prove the regexes actually fired. Pure regexp_replace — map-only,
    whole-stage codegen, zero shuffle; at 100 TB this runs at scan
    speed with the redaction fused into the first projection."""
    d = load_table(spark, sf_dir, "documents")
    enriched = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    no_email = F.regexp_replace("text", _EMAIL_RE, "")
    two_mark = F.regexp_replace("text", _PHONE_RE, "##")
    return enriched.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
        (F.length("text") - F.length(no_email)).alias("email_chars"),
        ((F.length(two_mark) - F.length("text")) / F.lit(2) + 1)
        .cast("long")
        .alias("n_phone_hits"),
    )


@query(
    "q_pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT source, doc_id, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source
                                ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                           - n_tokens) / 512.0) AS BIGINT) AS pack_id
        FROM toks
    )
    SELECT source, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc
    FROM packed GROUP BY source, pack_id
    """,
    tags=("llm", "text"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: docs are packed in
    doc_id order into ~512-token quota bins per source (pack_id =
    exclusive-prefix-sum div budget — the same running-sum split the
    reference uses for its 4 MB overflow accounting, lambda/main.py:
    140-151). One window shuffle on source, then a hash agg; at 100 TB
    the partition key is (source, day-shard) so each window partition
    is bounded and packs stream out without a global sort."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = d.select(
        "source", "doc_id", n_tokens.alias("n_tokens")
    ).withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512.0),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "q_embed_centroid",
    oracle="""
    WITH pos AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v
        FROM embeddings
    ),
    sums AS (
        -- FLOOR, not ROUND: v*1000 can land exactly on .5 where the
        -- engines' rounding modes disagree; floor of the identical
        -- double product is bit-deterministic
        SELECT label, pos,
               SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pos GROUP BY label, pos
    )
    SELECT label, CAST(pos AS BIGINT) AS pos,
           CAST(s AS DOUBLE) / (1000.0 * n) AS centroid_v,
           n AS n_vectors
    FROM sums
    """,
    tags=("llm", "vector"),
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the E-step of
    k-means / IVF codebook training. Elements are quantized to exact
    int64 milli-units before summation so the cross-engine sum is
    order-independent and exact; each centroid component is one
    identical IEEE division at the end. Emitted as scalar rows
    (label, pos, centroid_v, n_vectors) — one row per vector
    component — so the differential harness hashes plain scalars.
    Shape: posexplode (×64 fan-out, map-side) → hash agg on
    (label, pos). At 100 TB with k labels this shuffles only k×dim
    partial sums per executor (map-side combine), never raw vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        (F.col("pos") + 1).cast("long").alias("pos"),
        F.floor(F.col("v").cast("double") * 1000).alias("sv"),
    )
    sums = pos.groupBy("label", "pos").agg(
        F.sum("sv").alias("s"), F.count("*").alias("n")
    )
    return sums.select(
        "label",
        "pos",
        (F.col("s").cast("double") / (F.lit(1000.0) * F.col("n"))).alias(
            "centroid_v"
        ),
        F.col("n").alias("n_vectors"),
    )


@query(
    "q_curate_mix_weights",
    oracle="""
    WITH st AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(str_split(lower(text), ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM st
    )
    SELECT s.source, s.n_docs, s.n_tokens,
           CAST(LEAST(1000000,
                      (t.total // t.n_sources) * 1000000 // s.n_tokens)
                AS BIGINT) AS weight_ppm,
           CAST(s.n_tokens
                * LEAST(1000000,
                        (t.total // t.n_sources) * 1000000 // s.n_tokens)
                // 1000000 AS BIGINT) AS expected_tokens
    FROM st s CROSS JOIN tot t
    """,
    tags=("llm", "curation"),
)
def q_curate_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: compute per-source sampling
    weights that flatten the corpus toward a uniform token budget per
    domain — the mixture-balancing step (DoReMi-style reweighting with
    a uniform reference) that runs between curation and sharding in an
    LLM data pipeline. target = total_tokens / n_sources; each
    over-represented source gets weight target/actual (capped at 1 —
    this job downsamples, never repeats), and expected_tokens is the
    post-sampling budget the shard-writer plans against. All exact
    integer ppm arithmetic (floor divisions on non-negative counts are
    identical across engines).

    100 TB shape: one map-side-combined token count per source plus a
    1-row broadcast total — the weights frame is |sources| rows and
    feeds the actual sampler as a broadcast dim (q_sample_weighted's
    hash-threshold form consumes exactly this shape)."""
    d = load_table(spark, sf_dir, "documents")
    st = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
    )
    tot = F.broadcast(
        st.agg(
            F.sum("n_tokens").alias("total"), F.count("*").alias("n_sources")
        )
    )
    j = st.crossJoin(tot)
    weight_ppm = F.least(
        F.lit(1000000).cast("long"),
        F.expr("((total DIV n_sources) * 1000000) DIV n_tokens"),
    )
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        weight_ppm.alias("weight_ppm"),
        F.expr(
            "(n_tokens * LEAST(1000000, "
            "((total DIV n_sources) * 1000000) DIV n_tokens)) DIV 1000000"
        )
        .cast("long")
        .alias("expected_tokens"),
    )


@query(
    "q_sample_temperature",
    oracle="""
    WITH st AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(str_split(lower(text), ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    sq AS (
        SELECT source, n_docs, n_tokens,
               CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT)
                   AS isq
        FROM st
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
               CAST(SUM(isq) AS BIGINT) AS total_sq
        FROM sq
    )
    SELECT s.source, s.n_docs, s.n_tokens,
           CAST(s.n_tokens * 1000000 // t.total AS BIGINT) AS natural_ppm,
           CAST(s.isq * 1000000 // t.total_sq AS BIGINT) AS temp_ppm
    FROM sq s CROSS JOIN tot t
    """,
    tags=("llm", "sampling"),
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (α = 0.5): each source's
    sampling share goes from its natural token share p_s to
    p_s^α / Σ p^α — the multilingual/multi-domain upsampling rule
    (common in multilingual pretraining) that boosts small domains
    without flattening to uniform (q_curate_mix_weights is the α→0
    endpoint of the same dial). Reported side-by-side as natural vs
    temperature ppm so the delta IS the boost audit.

    Cross-engine exactness: p^0.5 = sqrt — IEEE-correctly-rounded and
    identical in both engines — is immediately milli-quantized to
    int64, so the normalizing SUM is an order-independent integer sum
    (a raw double Σ√n would round differently under different
    aggregation orders at scale); one floor-division yields the ppm.

    100 TB shape: |sources| rows after one map-side-combined token
    count; the ppm frame broadcasts to the sampler."""
    d = load_table(spark, sf_dir, "documents")
    st = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
    )
    sq = st.withColumn(
        "isq",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000).cast("long"),
    )
    tot = F.broadcast(
        sq.agg(F.sum("n_tokens").alias("total"), F.sum("isq").alias("total_sq"))
    )
    return sq.crossJoin(tot).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("(n_tokens * 1000000) DIV total").alias("natural_ppm"),
        F.expr("(isq * 1000000) DIV total_sq").alias("temp_ppm"),
    )


@query(
    "q_curate_corpus",
    oracle="""
    WITH scored AS (
        SELECT doc_id, source, lang, md5(text) AS h,
               str_split(lower(text), ' ') AS toks
        FROM documents
    ),
    filtered AS (
        SELECT doc_id, source, h, len(toks) AS n_tokens
        FROM scored
        WHERE lang = 'en'
          AND len(toks) BETWEEN 20 AND 400
          AND len(list_filter(toks, x -> list_contains(
                  ['the', 'a', 'and', 'order', 'table'], x))) / len(toks)
              BETWEEN 0.05 AND 0.6
    ),
    deduped AS (
        SELECT * FROM (
            SELECT doc_id, source, n_tokens,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
            FROM filtered
        ) WHERE rn = 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
           MIN(doc_id) AS first_doc
    FROM deduped GROUP BY source
    """,
    tags=("llm", "text"),
)
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pass — the composition a real training-data
    pipeline runs nightly: language filter → token-length band →
    stopword-density band → exact near-dup removal (first doc per
    content hash wins) → per-source yield accounting. Everything
    upstream of the dedup shuffle is map-only Catalyst expressions
    fused into the scan; the only shuffles are the content-hash
    dedup window and the final per-source agg. At 100 TB: the filters
    drop the bulk of the corpus before any shuffle (order matters:
    cheap predicates first), and the dedup key (md5) is uniform so no
    skew handling is needed."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    scored = d.select(
        "doc_id",
        "source",
        F.col("lang"),
        F.md5("text").alias("h"),
        F.size(toks).alias("n_tokens"),
        (
            F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
            / F.size(toks)
        ).alias("stop_ratio"),
    )
    filtered = scored.filter(
        (F.col("lang") == "en")
        & F.col("n_tokens").between(20, 400)
        & F.col("stop_ratio").between(0.05, 0.6)
    )
    deduped = (
        filtered.withColumn(
            "rn", F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
    )
    return deduped.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("kept_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# Training-pipeline curation: contamination, mixture, sharding
# ---------------------------------------------------------------------------

CONTAM_K = 8  # shingle width for benchmark-contamination detection
EVAL_MOD = 19  # docs with doc_id % EVAL_MOD == 0 model the held-out eval set


@query(
    "q_contamination_ngram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, str_split(lower(text), ' ') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               {duck_hex_hash('unnest(' + duck_shingles('t', 8) + ')')} AS s
        FROM toks
    ),
    eval_sh AS (
        SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_MOD} = 0
    ),
    cont AS (
        SELECT DISTINCT doc_id, source FROM sh
        WHERE doc_id % {EVAL_MOD} <> 0 AND s IN (SELECT s FROM eval_sh)
    ),
    base AS (
        SELECT source, COUNT(*) AS n FROM documents
        WHERE doc_id % {EVAL_MOD} <> 0 GROUP BY source
    )
    SELECT b.source,
           CAST(b.n AS BIGINT) AS n_train_docs,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(c.n, 0) AS DOUBLE) / b.n AS contamination_rate
    FROM base b
    LEFT JOIN (SELECT source, COUNT(*) AS n FROM cont GROUP BY source) c
        USING (source)
    """,
    tags=("llm", "curation"),
)
def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check — the pass every training corpus
    runs before release: find training documents that share an 8-token
    shingle with any held-out eval document (eval set modeled as
    doc_id % 19 == 0) and report per-source contamination counts/rates.

    Scale shape: the eval set is small by construction, so its distinct
    shingle set is collected into a broadcast hash join — the 100 TB
    corpus streams map-side through a semi-join against an in-memory
    eval dictionary, no shuffle of the training shingles. (If the eval
    dictionary ever outgrew broadcast, the fallback is a shuffle
    semi-join on the shingle key — same plan DuckDB's IN executes.)
    Shingles are reduced to int64 md5-prefix hashes before the
    distinct/broadcast/join, so the hot path moves 8-byte keys instead
    of ~50-byte strings; the oracle applies the identical hash, so even
    a collision (false-positive match) is mirrored exactly."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                shingles(tokens("text"), CONTAM_K), lambda s: hex_hash(s)
            )
        ).alias("s"),
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_sh = sh.filter(is_eval).select("s").distinct()
    contaminated = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_sh), "s", "left_semi")
        .select("doc_id", "source")
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("n_cont"))
    )
    base = (
        d.filter(~is_eval)
        .groupBy("source")
        .agg(F.count("*").alias("n_train_docs"))
    )
    return base.join(contaminated, "source", "left").select(
        "source",
        "n_train_docs",
        F.coalesce("n_cont", F.lit(0)).alias("n_contaminated"),
        (
            F.coalesce("n_cont", F.lit(0)).cast("double")
            / F.col("n_train_docs")
        ).alias("contamination_rate"),
    )


@query(
    "q_interleave_sources",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               1 + CAST(substr(source, 4) AS INTEGER) % 3 AS keep_mod,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    ),
    kept AS (SELECT * FROM ranked WHERE rn % keep_mod = 0)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM kept GROUP BY source
    """,
    tags=("llm", "curation"),
)
def q_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture sampling: each source keeps every
    k-th document in doc_id order (k = 1 + source_number % 3 — a stand-in
    for per-source mixture weights), the RNG-free way a training mixture
    is drawn reproducibly. One window shuffle partitioned by source
    (at 100 TB the per-source rank comes from the ingest layer's
    monotonic ids instead, making this map-only); the mod filter and
    per-source yield agg reuse the same partitioning — Catalyst plans a
    single Exchange."""
    d = load_table(spark, sf_dir, "documents")
    keep_mod = 1 + F.substring("source", 4, 10).cast("int") % 3
    w = Window.partitionBy("source").orderBy("doc_id")
    kept = d.select(
        "doc_id", "source", "n_chars", keep_mod.alias("keep_mod")
    ).withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") % F.col("keep_mod") == 0
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "q_curate_dedup_cascade",
    oracle="""
    WITH flags AS (
        SELECT doc_id, source, text,
               doc_id = MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keep1
        FROM documents
    ),
    surv AS (SELECT doc_id, text FROM flags WHERE keep1),
    """
    + _minhash_cte()
    .replace("WITH ", "", 1)
    .replace("FROM documents", "FROM surv")
    + """
    , dups AS (
        SELECT DISTINCT a.doc_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bsig = b.bsig AND b.doc_id < a.doc_id
    )
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f.keep1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_after_exact,
           CAST(SUM(CASE WHEN f.keep1 AND d.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_after_near
    FROM flags f LEFT JOIN dups d USING (doc_id)
    GROUP BY f.source
    """,
    tags=("llm", "dedup", "curation"),
)
def q_curate_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged dedup cascade with per-stage yield accounting — the order
    every corpus pipeline runs: exact dedup first (cheap hash shuffle
    kills the bulk), MinHash-LSH near-dup only over the exact
    survivors. A survivor is near-dropped iff any of its LSH band
    signatures collides with a lower-doc_id survivor (the same verdict
    rule as the streaming incremental dedup). Per-source in/after-exact/
    after-near counts are the curation report a data team actually
    reads.

    100 TB shape: stage ordering IS the optimization — the expensive
    shingle/signature pipeline runs only on exact-unique docs (typically
    30-50% fewer at web scale); the exact stage is one hash-partitioned
    window, the near stage reuses the bucketed LSH self-join shape of
    q_dedup_minhash, and the final report is one groupBy over flags —
    no join carries text."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256))
    flags = d.select(
        "doc_id",
        "source",
        "text",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep1"),
    )
    survivors = flags.filter("keep1").select("doc_id", "text")
    # Survivor band signatures come from the persisted session
    # signature table (left-semi on the survivor ids) instead of
    # re-running the tokenize→shingle→md5→12-fold map over the
    # survivor slice — signatures are deterministic per doc, so the
    # row set is identical (guide §1.2). The stage-ordering story is
    # unchanged: at scale the signature table is the staged artifact
    # and the exact stage prunes which rows of it the near stage
    # probes.
    bands = _band_explode(
        minhash_sig_frame(spark, sf_dir).join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
    )
    probe = bands.select(
        F.col("band").alias("p_band"),
        F.col("bsig").alias("p_bsig"),
        F.col("doc_id").alias("p_doc"),
    )
    dups = (
        bands.join(
            probe,
            (F.col("band") == F.col("p_band"))
            & (F.col("bsig") == F.col("p_bsig"))
            & (F.col("p_doc") < F.col("doc_id")),
        )
        .select("doc_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        flags.join(dups, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep1").cast("long")).alias("n_after_exact"),
            F.sum(
                (F.col("keep1") & F.col("is_dup").isNull()).cast("long")
            ).alias("n_after_near"),
        )
    )


BPE_TOP_PAIRS = 50


@query(
    "q_bpe_pair_counts",
    oracle=f"""
    WITH toks AS (
        SELECT str_split(lower(text), ' ') AS t FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS pair
        FROM toks WHERE len(t) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {BPE_TOP_PAIRS}
    """,
    tags=("llm", "text"),
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair frequency scan — the inner loop of BPE tokenizer
    training (count all adjacent symbol pairs, merge the most frequent,
    repeat): one corpus-wide pass emitting the top merge candidates,
    deterministically tie-broken. Pair generation is a pure map
    (zip_with over two slices of the token array — no explode until the
    pair grain, no Python); the count is one hash agg with map-side
    combine and the top-k is TakeOrderedAndProject, so at 100 TB the
    shuffle carries (pair, partial count), bounded by vocabulary² not
    corpus size. Iterating merges = re-running this scan over re-paired
    tokens; each iteration is the same plan."""
    d = load_table(spark, sf_dir, "documents")
    pairs = (
        d.select(F.split(F.lower("text"), " ").alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1),"
                    " slice(t, 2, size(t) - 1),"
                    " (a, b) -> concat(a, ' ', b))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(BPE_TOP_PAIRS)
    )


N_SHARDS = 16


@query(
    "q_shard_balanced",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, n_chars,
               (ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1)
                   % {N_SHARDS} AS shard
        FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc
    FROM ranked GROUP BY shard
    """,
    tags=("llm", "curation"),
)
def q_shard_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced shard assignment for training-data files: documents
    are dealt round-robin across 16 shards in descending-size order (the
    classic LPT-style greedy that keeps shard byte totals within one
    max-doc of each other), then per-shard totals prove the balance.
    The global rank is a range-partitioned sort in Spark (sampled range
    exchange, no single-node bottleneck); at 100 TB shard assignment
    normally folds into the writer via rank carried from the previous
    stage — the same plan with the sort reused."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.desc("n_chars"), "doc_id")
    ranked = d.select("doc_id", "n_chars").withColumn(
        "shard", ((F.row_number().over(w) - 1) % N_SHARDS).cast("long")
    )
    return ranked.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
    )


# ---------------------------------------------------------------------------
# Similarity: nearest-centroid assignment + random-hyperplane LSH
# ---------------------------------------------------------------------------

_CENTROID_CTE = """
    WITH pos AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v
        FROM embeddings
    ),
    sums AS (
        SELECT label, pos,
               SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pos GROUP BY label, pos
    ),
    cents AS (
        SELECT label AS clabel,
               array_agg(CAST(s AS DOUBLE) / (1000.0 * n) ORDER BY pos)
                   AS centroid
        FROM sums GROUP BY label
    )
"""


@query(
    "q_sim_centroid_assign",
    oracle=_CENTROID_CTE
    + """
    , dists AS (
        SELECT e.vec_id, e.label, c.clabel,
               list_reduce(list_transform(list_zip(e.embedding, c.centroid),
                   t -> (CAST(t[1] AS DOUBLE) - t[2])
                        * (CAST(t[1] AS DOUBLE) - t[2])),
                   (x, y) -> x + y) AS d2
        FROM embeddings e CROSS JOIN cents c
    ),
    best AS (
        SELECT vec_id, label, clabel,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel)
                   AS rn
        FROM dists
    )
    SELECT label, clabel AS assigned_label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM best WHERE rn = 1 GROUP BY label, clabel
    """,
    tags=("llm", "similarity"),
)
def q_sim_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment — the full k-means E-step: train the
    codebook (per-label centroid via exact int64-quantized sums, same
    math as q_embed_centroid), broadcast it, assign every vector to its
    closest centroid by squared-L2, and emit the label-vs-assigned
    confusion counts.

    Scale shape: the codebook is k rows (k ≪ data), so assignment is a
    broadcast nested loop — a map-only ×k fan-out with a map-side
    min(struct) combine; the only shuffles are the k×dim centroid sums
    and the final k×k confusion agg. Distance is one Catalyst fold per
    (vector, centroid) with the identical left-fold DuckDB mirrors, so
    the argmin is bit-deterministic cross-engine."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("p", "v")
    ).select(
        "label",
        (F.col("p") + 1).alias("p"),
        F.floor(F.col("v").cast("double") * 1000).alias("sv"),
    )
    sums = comp.groupBy("label", "p").agg(
        F.sum("sv").alias("s"), F.count("*").alias("n")
    )
    cents = sums.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "s", "n"))),
            lambda x: x["s"].cast("double") / (1000.0 * x["n"]),
        ).alias("centroid")
    )
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    best = (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "label",
            F.struct(d2.alias("d2"), F.col("clabel").alias("clabel")).alias(
                "cand"
            ),
        )
        .groupBy("vec_id", "label")
        .agg(F.min("cand").alias("best"))
    )
    return best.groupBy(
        "label", F.col("best.clabel").alias("assigned_label")
    ).agg(F.count("*").alias("n_vectors"))


@query(
    "q_sim_kmeans_iterate",
    oracle=_CENTROID_CTE
    + """
    , dists AS (
        SELECT e.vec_id, e.embedding, c.clabel,
               list_reduce(list_transform(list_zip(e.embedding, c.centroid),
                   t -> (CAST(t[1] AS DOUBLE) - t[2])
                        * (CAST(t[1] AS DOUBLE) - t[2])),
                   (x, y) -> x + y) AS d2
        FROM embeddings e CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, embedding, clabel FROM (
            SELECT vec_id, embedding, clabel,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, clabel) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    pos2 AS (
        SELECT clabel,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v
        FROM assign
    ),
    sums2 AS (
        SELECT clabel, pos,
               SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS s2,
               CAST(COUNT(*) AS BIGINT) AS n2
        FROM pos2 GROUP BY clabel, pos
    ),
    newc AS (
        SELECT clabel,
               array_agg(CAST(s2 AS DOUBLE) / (1000.0 * n2) ORDER BY pos)
                   AS centroid_new,
               CAST(MAX(n2) AS BIGINT) AS n_assigned
        FROM sums2 GROUP BY clabel
    )
    SELECT c.clabel,
           COALESCE(n.n_assigned, 0) AS n_assigned,
           list_reduce(list_transform(list_zip(c.centroid, n.centroid_new),
               t -> (t[1] - t[2]) * (t[1] - t[2])),
               (x, y) -> x + y) AS movement_d2
    FROM cents c LEFT JOIN newc n USING (clabel)
    """,
    tags=("llm", "similarity"),
)
def q_sim_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration (E-step + M-step) on top of the
    label-seeded codebook of q_sim_centroid_assign: assign every vector
    to its nearest centroid (broadcast ×k fan-out, min(struct) argmin),
    recompute each centroid as the exact int64-quantized mean of its
    assigned vectors, and report per-centroid membership and squared-L2
    movement — the convergence signal a k-means driver loops on.
    Every arithmetic step (quantized sums, one division, ordered fold)
    is bit-identical in DuckDB, so even the movement DOUBLEs hash-match.

    100 TB shape: per iteration, one broadcast assignment pass (map-only)
    plus one (cluster × dim)-grain hash agg — the M-step shuffle carries
    k·d quantized sums, not vectors. The iteration loop reuses this
    exact plan with the new codebook broadcast back; convergence reads
    the k-row movement frame, never the data."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("p", "v")
    ).select(
        "label",
        (F.col("p") + 1).alias("p"),
        F.floor(F.col("v").cast("double") * 1000).alias("sv"),
    )
    sums = comp.groupBy("label", "p").agg(
        F.sum("sv").alias("s"), F.count("*").alias("n")
    )
    cents = sums.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "s", "n"))),
            lambda x: x["s"].cast("double") / (1000.0 * x["n"]),
        ).alias("centroid")
    )
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    best = (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            F.struct(d2.alias("d2"), F.col("clabel").alias("clabel")).alias(
                "cand"
            ),
        )
        .groupBy("vec_id")
        .agg(F.min("cand").alias("b"))
        .select("vec_id", F.col("b.clabel").alias("clabel"))
    )
    assigned = e.join(best, "vec_id").select("clabel", "embedding")
    comp2 = assigned.select(
        "clabel", F.posexplode("embedding").alias("p", "v")
    ).select(
        "clabel",
        (F.col("p") + 1).alias("p"),
        F.floor(F.col("v").cast("double") * 1000).alias("sv"),
    )
    sums2 = comp2.groupBy("clabel", "p").agg(
        F.sum("sv").alias("s2"), F.count("*").alias("n2")
    )
    newc = sums2.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "s2", "n2"))),
            lambda x: x["s2"].cast("double") / (1000.0 * x["n2"]),
        ).alias("centroid_new"),
        F.max("n2").alias("n_assigned"),
    )
    move = F.aggregate(
        F.zip_with(
            "centroid",
            "centroid_new",
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return cents.join(newc, "clabel", "left").select(
        "clabel",
        F.coalesce(F.col("n_assigned"), F.lit(0)).alias("n_assigned"),
        move.alias("movement_d2"),
    )


@query(
    "q_sim_route_balance",
    oracle=_CENTROID_CTE
    + """
    , dists AS (
        SELECT e.vec_id, c.clabel,
               list_reduce(list_transform(list_zip(e.embedding, c.centroid),
                   t -> (CAST(t[1] AS DOUBLE) - t[2])
                        * (CAST(t[1] AS DOUBLE) - t[2])),
                   (x, y) -> x + y) AS d2
        FROM embeddings e CROSS JOIN cents c
    ),
    routed AS (
        SELECT vec_id, clabel FROM (
            SELECT vec_id, clabel,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, clabel) AS rn
            FROM dists
        ) WHERE rn <= 3
    ),
    load AS (
        SELECT clabel, CAST(COUNT(*) AS BIGINT) AS n_routed
        FROM routed GROUP BY clabel
    ),
    tot AS (
        SELECT CAST(SUM(n_routed) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM load
    )
    SELECT l.clabel, l.n_routed,
           CAST(l.n_routed * 1000000 // t.total AS BIGINT) AS share_ppm,
           CAST(ABS(l.n_routed * 1000000 // t.total - 1000000 // t.k)
                AS BIGINT) AS dev_ppm
    FROM load l CROSS JOIN tot t
    """,
    tags=("llm", "similarity", "dq"),
)
def q_sim_route_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving hot-cell audit: route every query vector to its
    nprobe=3 nearest cells (the exact routing q_sim_ann_ivf serves
    with) and report per-cell load — routed count, exact share ppm,
    and absolute deviation from the uniform 1/k share.  A hot cell is
    the IVF equivalent of join-key skew: its inverted list dominates
    every probe's latency, and the fix (splitting the cell, re-seeding
    its centroid) needs this table first.  All integer arithmetic
    after the deterministic distance argsort.

    100 TB shape: the same broadcast ×k fan-out every ANN key uses,
    one per-vector top-nprobe window (partitioned by vec_id — no
    global sort), then a k-row agg; the audit costs one routing pass
    over the query log, output k rows."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("p", "v")
    ).select(
        "label",
        (F.col("p") + 1).alias("p"),
        F.floor(F.col("v").cast("double") * 1000).alias("sv"),
    )
    sums = comp.groupBy("label", "p").agg(
        F.sum("sv").alias("s"), F.count("*").alias("n")
    )
    cents = sums.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "s", "n"))),
            lambda x: x["s"].cast("double") / (1000.0 * x["n"]),
        ).alias("centroid")
    )
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    routed = (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "clabel",
            F.row_number()
            .over(
                Window.partitionBy("vec_id").orderBy(
                    d2.asc(), F.col("clabel").asc()
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )
    load = routed.groupBy("clabel").agg(F.count("*").alias("n_routed"))
    tot = load.agg(
        F.sum("n_routed").alias("total"), F.count("*").alias("k")
    )
    return load.crossJoin(F.broadcast(tot)).select(
        "clabel",
        "n_routed",
        F.expr("n_routed * 1000000 div total").alias("share_ppm"),
        F.expr("abs(n_routed * 1000000 div total - 1000000 div k)").alias(
            "dev_ppm"
        ),
    )


@query(
    "q_embed_label_margin",
    oracle=_CENTROID_CTE
    + """
    SELECT a.clabel AS label_a, b.clabel AS label_b,
           list_reduce(list_transform(list_zip(a.centroid, b.centroid),
               t -> (t[1] - t[2]) * (t[1] - t[2])),
               (x, y) -> x + y) AS centroid_d2
    FROM cents a JOIN cents b ON a.clabel < b.clabel
    """,
    tags=("llm", "embedding", "dq"),
)
def q_embed_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid margin matrix — which class pairs are
    confusable in embedding space: squared-L2 distance between every
    pair of label centroids (k×k upper triangle).  Small margins
    predict exactly where q_sim_silhouette finds misassigned vectors
    and where q_sim_centroid_assign's confusion matrix leaks; the pair
    list is the input to merging labels or re-embedding.  Centroids
    are the exact quantized sums every centroid key shares, so the
    distance DOUBLEs hash-match DuckDB.

    100 TB shape: one (label, dim)-grain agg over the corpus, then a
    k-row self-join — C(k,2) output rows, corpus touched once."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("p", "v")
    ).select(
        "label",
        (F.col("p") + 1).alias("p"),
        F.floor(F.col("v").cast("double") * 1000).alias("sv"),
    )
    sums = comp.groupBy("label", "p").agg(
        F.sum("sv").alias("s"), F.count("*").alias("n")
    )
    cents = sums.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "s", "n"))),
            lambda x: x["s"].cast("double") / (1000.0 * x["n"]),
        ).alias("centroid")
    )
    a = cents.select(
        F.col("clabel").alias("label_a"), F.col("centroid").alias("ca")
    )
    b = cents.select(
        F.col("clabel").alias("label_b"), F.col("centroid").alias("cb")
    )
    d2 = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", d2.alias("centroid_d2"))
    )


@query(
    "q_embed_drift_centroid",
    oracle="""
    WITH halves AS (
        SELECT vec_id, label, embedding, vec_id % 2 AS side
        FROM embeddings
    ),
    pos AS (
        SELECT label, side,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v
        FROM halves
    ),
    sums AS (
        SELECT label, side, pos,
               SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pos GROUP BY label, side, pos
    ),
    cents AS (
        SELECT label, side,
               array_agg(CAST(s AS DOUBLE) / (1000.0 * n) ORDER BY pos)
                   AS centroid,
               CAST(MAX(n) AS BIGINT) AS n_vecs
        FROM sums GROUP BY label, side
    )
    SELECT a.label, a.n_vecs AS n_even, b.n_vecs AS n_odd,
           list_reduce(list_transform(list_zip(a.centroid, b.centroid),
               t -> (t[1] - t[2]) * (t[1] - t[2])),
               (x, y) -> x + y) AS drift_d2
    FROM cents a JOIN cents b
      ON a.label = b.label AND a.side = 0 AND b.side = 1
    """,
    tags=("llm", "embedding", "dq"),
)
def q_embed_drift_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor: split each label's vectors into two
    deterministic halves (vec_id parity — in production: before/after a
    re-embedding run, or two time windows) and measure the squared-L2
    shift between the halves' centroids.  A re-embedded corpus whose
    per-label centroids move is the classic silent killer of a frozen
    ANN index (the IVF cells were trained on the OLD distribution).
    Centroids use the exact int64-quantized sums of q_embed_centroid,
    so the drift DOUBLEs are bit-identical cross-engine.

    100 TB shape: ONE (label, side, dim)-grain hash agg over the
    vectors (map-side combined), then a k-row self-join — the monitor
    costs one scan regardless of corpus size and emits k rows."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label",
        (F.col("vec_id") % 2).alias("side"),
        F.posexplode("embedding").alias("p", "v"),
    ).select(
        "label",
        "side",
        (F.col("p") + 1).alias("p"),
        F.floor(F.col("v").cast("double") * 1000).alias("sv"),
    )
    sums = comp.groupBy("label", "side", "p").agg(
        F.sum("sv").alias("s"), F.count("*").alias("n")
    )
    cents = sums.groupBy("label", "side").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "s", "n"))),
            lambda x: x["s"].cast("double") / (1000.0 * x["n"]),
        ).alias("centroid"),
        F.max("n").alias("n_vecs"),
    )
    a = cents.filter(F.col("side") == 0).select(
        "label",
        F.col("centroid").alias("c0"),
        F.col("n_vecs").alias("n_even"),
    )
    b = cents.filter(F.col("side") == 1).select(
        F.col("label").alias("lb"),
        F.col("centroid").alias("c1"),
        F.col("n_vecs").alias("n_odd"),
    )
    drift = F.aggregate(
        F.zip_with("c0", "c1", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        a.join(b, F.col("label") == F.col("lb"))
        .select("label", "n_even", "n_odd", drift.alias("drift_d2"))
    )


@query(
    "q_sim_silhouette",
    oracle=_CENTROID_CTE
    + """
    , dists AS (
        SELECT e.vec_id, e.label, c.clabel,
               list_reduce(list_transform(list_zip(e.embedding, c.centroid),
                   t -> (CAST(t[1] AS DOUBLE) - t[2])
                        * (CAST(t[1] AS DOUBLE) - t[2])),
                   (x, y) -> x + y) AS d2
        FROM embeddings e CROSS JOIN cents c
    ),
    ab AS (
        SELECT vec_id, label,
               MIN(CASE WHEN clabel = label THEN d2 END) AS a2,
               MIN(CASE WHEN clabel <> label THEN d2 END) AS b2
        FROM dists GROUP BY vec_id, label
    ),
    s AS (
        SELECT label,
               CAST(FLOOR((b2 - a2) / GREATEST(a2, b2) * 1000000)
                    AS BIGINT) AS s_ppm
        FROM ab
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(s_ppm) AS BIGINT) AS sum_s_ppm,
           CAST(SUM(s_ppm) // COUNT(*) AS BIGINT) AS mean_s_ppm,
           CAST(SUM(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_negative
    FROM s GROUP BY label
    """,
    tags=("llm", "similarity", "dq"),
)
def q_sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette audit of the label
    clustering: per vector, a² = squared distance to its OWN centroid,
    b² = min squared distance to any OTHER centroid, s = (b²−a²) /
    max(a², b²) ∈ [−1, 1] — negative s means the vector sits closer to
    a foreign centroid (misassigned).  Per-vector s is a deterministic
    DOUBLE, but a distributed SUM of doubles is order-dependent, so s
    is floored to integer ppm FIRST and summed exactly — the mean is
    one integer division (the bit-determinism rule every float key in
    this repo follows).  The centroid-based form is the O(n·k)
    silhouette used at scale (the classic pairwise form is O(n²)).

    100 TB shape: same broadcast ×k fan-out as q_sim_centroid_assign
    with a two-way conditional-min agg per vector; output is k rows."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("p", "v")
    ).select(
        "label",
        (F.col("p") + 1).alias("p"),
        F.floor(F.col("v").cast("double") * 1000).alias("sv"),
    )
    sums = comp.groupBy("label", "p").agg(
        F.sum("sv").alias("s"), F.count("*").alias("n")
    )
    cents = sums.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "s", "n"))),
            lambda x: x["s"].cast("double") / (1000.0 * x["n"]),
        ).alias("centroid")
    )
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    ab = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "label", F.col("clabel"), d2.alias("d2"))
        .groupBy("vec_id", "label")
        .agg(
            F.min(
                F.when(F.col("clabel") == F.col("label"), F.col("d2"))
            ).alias("a2"),
            F.min(
                F.when(F.col("clabel") != F.col("label"), F.col("d2"))
            ).alias("b2"),
        )
    )
    s_ppm = F.floor(
        (F.col("b2") - F.col("a2"))
        / F.greatest("a2", "b2")
        * 1_000_000
    ).cast("long")
    return (
        ab.select("label", s_ppm.alias("s_ppm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("s_ppm").alias("sum_s_ppm"),
            F.expr("sum(s_ppm) div count(*)").alias("mean_s_ppm"),
            F.sum(F.when(F.col("s_ppm") < 0, 1).otherwise(0)).alias(
                "n_negative"
            ),
        )
    )


RP_PLANES = 8
EMB_DIM = 64
RP_COS = 0.15
# Capacity-law scale branch (closes the round-5 watch item: 8 planes =
# 256 buckets forever → in-bucket pairs ~n²/256): when the corpus holds
# a vec_id divisible by RP_SCALE_MOD (an existence probe, metadata
# grain — the GRAPH_L3_MOD gating pattern), the signature widens to
# RP_SCALE_PLANES planes, dividing bucket occupancy by
# 2^(RP_SCALE_PLANES - RP_PLANES). At the test SFs the gate frame is
# empty, so hashes are unchanged; the law test monkeypatches the
# modulus down to prove the branch binds and stays oracle-exact.
RP_SCALE_MOD = 8192
RP_SCALE_PLANES = 12


def _rp_plane(j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j — reproducible in both
    engines from the same closed-form constants (no RNG state)."""
    return [((131 * j + 17 * k) % 997 - 498) / 498.0 for k in range(EMB_DIM)]


def _rp_bucket_sql(n_planes: int) -> str:
    from ex_aws_firehose_spark.functions.vector import duck_dot

    terms = []
    for j in range(n_planes):
        lit = "[" + ", ".join(repr(v) for v in _rp_plane(j)) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN {duck_dot('embedding', lit)} >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


def _rp_oracle() -> str:
    # Two mutually exclusive EXISTS-gated branches (the GRAPH_L3_MOD
    # ladder mirror): the scale gate widens the signature to
    # RP_SCALE_PLANES planes when the corpus crosses RP_SCALE_MOD.
    b8 = _rp_bucket_sql(RP_PLANES)
    b12 = _rp_bucket_sql(RP_SCALE_PLANES)
    return f"""
    WITH gate AS (
        SELECT 1 AS x FROM embeddings
        WHERE vec_id % {RP_SCALE_MOD} = 0 AND vec_id <> 0 LIMIT 1
    ),
    sig AS (
        SELECT vec_id, embedding, {b8} AS bucket FROM embeddings
        WHERE NOT EXISTS (SELECT 1 FROM gate)
        UNION ALL
        SELECT vec_id, embedding, {b12} AS bucket FROM embeddings
        WHERE EXISTS (SELECT 1 FROM gate)
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(a.bucket AS BIGINT) AS bucket,
           round({duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {RP_COS}
    """


@query(
    "q_sim_threshold_sweep",
    oracle=f"""
    WITH pairs AS (
        SELECT round({duck_cosine('a.embedding', 'b.embedding')}, 6) AS c
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    banded AS (
        SELECT CAST(GREATEST(-10, LEAST(9, FLOOR(c * 10))) AS INTEGER)
                   AS band,
               COUNT(*) AS n
        FROM pairs GROUP BY 1
    )
    SELECT band, CAST(n AS BIGINT) AS n_pairs,
           CAST(SUM(n) OVER (ORDER BY band DESC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_pairs
    FROM banded
    """,
    tags=("llm", "similarity", "capacity"),
)
def q_sim_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-threshold capacity sweep — the planning report the
    multiprobe finding (SCALE.md §15) says to run BEFORE sizing any
    similarity join: within the coarse buckets, band every pair's
    cosine into 0.1-wide bins and report per-band and cumulative pair
    counts. cum_pairs at a candidate threshold IS the output
    cardinality the downstream join will pay — the one number that
    decides whether a threshold is bucketable-sparse or inherently
    quadratic (no LSH parameter can shrink a dense output, only the
    threshold can).

    Scale shape: one label-bucket self-join (the same candidate
    engine as q_dedup_embedding, cost amortized if both run), then a
    ~20-row banded aggregate and a window over those rows — the sweep
    costs one pass over candidates regardless of how many thresholds
    it prices."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    a, b = e.alias("a"), e.alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    band = (
        F.greatest(
            F.lit(-10), F.least(F.lit(9), F.floor(F.round(cos, 6) * 10))
        )
        .cast("int")
        .alias("band")
    )
    banded = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(band)
        .groupBy("band")
        .agg(F.count("*").alias("n_pairs"))
    )
    wcum = (
        Window.orderBy(F.desc("band"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return banded.withColumn("cum_pairs", F.sum("n_pairs").over(wcum))


MP_PLANES = 12  # multiprobe variant: 4096 buckets + 1-bit-flip probing


def _rp_multiprobe_oracle() -> str:
    from ex_aws_firehose_spark.functions.vector import duck_dot

    terms = []
    for j in range(MP_PLANES):
        lit = "[" + ", ".join(repr(v) for v in _rp_plane(j)) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN {duck_dot('embedding', lit)} >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    flips = ", ".join(
        str(f) for f in [0] + [1 << j for j in range(MP_PLANES)]
    )
    return f"""
    WITH sig AS (
        SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
        FROM embeddings
    ),
    flips AS (SELECT unnest([{flips}]) AS f),
    probes AS (
        SELECT s.vec_id, s.embedding, s.bucket,
               xor(s.bucket, CAST(fl.f AS BIGINT)) AS probe
        FROM sig s CROSS JOIN flips fl
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(bit_count(xor(a.bucket, b.bucket)) AS INTEGER) AS hamming,
           round({duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
    FROM probes a JOIN sig b ON a.probe = b.bucket AND a.vec_id < b.vec_id
    WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {RP_COS}
    """


@query(
    "q_sim_rp_lsh_multiprobe",
    oracle=_rp_multiprobe_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_rp_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe RP-LSH — the capacity fix the 64× probe priced out
    for the 8-plane form (SCALE.md §15: 256 buckets forever → n²/256
    in-bucket pairs): widen to 12 planes (4096 buckets, 16× smaller
    occupancy) and recover the recall the extra planes cost by ALSO
    probing every 1-bit-flip neighbor bucket (Lv et al.'s multi-probe
    LSH) — a candidate pair is any two signatures within Hamming ≤ 1
    in plane space. Each qualifying pair matches on exactly ONE probe
    (its xor is a single flip value), so the join needs no distinct.

    Scale shape: signature is the same pure-map dot-fold stage (12
    folds); the probe side explodes ×13 (a constant), and candidates
    come from one (probe = bucket) equi-join whose per-bucket
    occupancy is 16× smaller than the 8-plane form at equal corpus —
    planes buy capacity, probes buy recall, both constants in the
    plan. This is the production dial pair: planes ≈ log₂(n/target
    occupancy), probe radius to taste.

    Measured caveat (SCALE.md §15): at RP_COS = 0.15 on the 64×
    synthetic corpus the RESULT SET is itself ~n²-dense (22 M
    qualifying pairs), so no bucketing parameter can make the job
    sub-quadratic — the 1-flip fan-out (×13) roughly cancels the 16×
    occupancy gain and wall-clock matches the 8-plane form. Bucketing
    bounds CANDIDATE overhead per OUTPUT pair; when the output is
    dense, the similarity threshold is the only true scale dial."""
    e = load_table(spark, sf_dir, "embeddings")
    bucket = None
    for j in range(MP_PLANES):
        plane = F.array(*[F.lit(v) for v in _rp_plane(j)])
        bit = F.when(dot(F.col("embedding"), plane) >= 0, 1 << j).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    sig = e.select(
        "vec_id",
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        bucket.cast("long").alias("bucket"),
    )
    probes = sig.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
        F.col("bucket").alias("a_bucket"),
        F.explode(
            F.array(
                *[
                    F.col("bucket").bitwiseXOR(F.lit(f).cast("long"))
                    for f in [0] + [1 << j for j in range(MP_PLANES)]
                ]
            )
        ).alias("probe"),
    )
    cos = dot(F.col("a_emb"), F.col("embedding")) / (
        F.col("a_nrm") * F.col("nrm")
    )
    return (
        probes.join(
            sig,
            (F.col("probe") == F.col("bucket"))
            & (F.col("a_id") < F.col("vec_id")),
        )
        .filter(cos >= RP_COS)
        .select(
            F.col("a_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            F.bit_count(F.expr("a_bucket ^ bucket")).cast("int").alias(
                "hamming"
            ),
            F.round(cos, 6).alias("cos_sim"),
        )
    )


@query("q_sim_rp_lsh", oracle=_rp_oracle(), tags=("llm", "similarity"))
def q_sim_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH for embeddings (the vector analog of
    SimHash): 8 deterministic hyperplanes → 8 sign bits → 256 buckets;
    candidate pairs are same-bucket vectors, verified with exact cosine.
    Data-independent bucketing — unlike q_dedup_embedding's IVF labels,
    no trained codebook is needed.

    Scale shape: the signature is a pure map (Catalyst dot-folds per
    row, planes are inline literals — nothing broadcast, nothing
    shuffled); candidates come from a self-equi-join on the bucket key.
    More planes → smaller buckets → fewer candidates: the knob that
    keeps the pair space linear at 100 TB — and it now turns ITSELF:
    when the corpus holds a vec_id divisible by ``RP_SCALE_MOD`` (a
    LIMIT-1 existence probe, metadata grain — the ``GRAPH_L3_MOD``
    gating pattern), the signature widens to ``RP_SCALE_PLANES``
    planes, dividing bucket occupancy 16×; below the gate the 8-plane
    form is bit-identical to the pre-gate key (the round-5 capacity
    watch, closed; branch-binding law in
    tests/test_scale_shape.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    big = (
        e.filter(
            (F.col("vec_id") % RP_SCALE_MOD == 0) & (F.col("vec_id") != 0)
        )
        .limit(1)
        .count()
        > 0
    )
    n_planes = RP_SCALE_PLANES if big else RP_PLANES
    bucket = None
    for j in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _rp_plane(j)])
        bit = F.when(dot(F.col("embedding"), plane) >= 0, 1 << j).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    sig = e.select(
        "vec_id",
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        bucket.cast("long").alias("bucket"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= RP_COS)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )


@query(
    "q_text_chunk_windows",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
        SELECT doc_id, toks, len(toks) AS n_toks,
               unnest(range(1, greatest(len(toks), 1) + 1, 8)) AS start
        FROM d
    )
    SELECT doc_id,
           CAST((start - 1) // 8 AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(toks, start, start + 15), ' ')
               AS chunk_text,
           CAST(LEAST(16, n_toks - start + 1) AS BIGINT) AS n_tokens
    FROM s
    """,
    tags=("llm", "text"),
)
def q_text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (window 16 tokens, stride 8) —
    the standard RAG / long-context preprocessing step: each document
    fans out to overlapping token-window chunks with a stable
    (doc_id, chunk_idx) identity and an exact per-chunk token count.

    Implementation stays entirely in Catalyst array expressions:
    `sequence` generates start offsets, `posexplode` fans out, `slice`
    + `array_join` materialize each chunk — no Python, no quadratic
    element_at (see functions/text.py shingles() for why slice-based
    windows matter). 100 TB shape: pure map-side fan-out (×~n/stride),
    no shuffle at all; chunk rows inherit the input partitioning, so a
    downstream embed/dedup stage starts from well-sized partitions.
    Follows the reference's record-expansion pattern (one input row →
    many output rows, lambda/main.py:55-69) applied to text windows."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    s = d.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n_toks"),
        F.posexplode(
            F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(8))
        ).alias("ix", "start"),
    )
    return s.select(
        "doc_id",
        F.expr("(start - 1) div 8").cast("long").alias("chunk_idx"),
        F.array_join(F.slice("toks", F.col("start"), F.lit(16)), " ").alias(
            "chunk_text"
        ),
        F.least(F.lit(16), F.col("n_toks") - F.col("start") + 1)
        .cast("long")
        .alias("n_tokens"),
    )


@query(
    "q_embed_quantize_int8",
    oracle="""
    WITH base AS (
        SELECT vec_id,
               list_aggregate(list_transform(embedding, x -> abs(x)), 'max')
                   AS scale,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v
        FROM embeddings
    )
    SELECT vec_id, CAST(pos AS BIGINT) AS pos,
           CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(FLOOR((CAST(v AS DOUBLE) / CAST(scale AS DOUBLE))
                                * 127) AS BIGINT) END AS q,
           CAST(FLOOR(CAST(scale AS DOUBLE) * 1000000) AS BIGINT)
               AS scale_micro
    FROM base
    """,
    tags=("llm", "vector"),
)
def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (per-vector absmax scale,
    q = floor(v/scale·127)) — the standard 4× compression before
    shipping vectors to an ANN index; the dequantized dot product
    approximates cosine within quantization error. Emitted as exploded
    scalar rows (vec_id, pos, q, scale_micro) per the harness's
    no-list-cells rule.

    Float parity: abs and max are exact in float32; the float→double
    promotion is exact; the final (v/scale)·127 is the same IEEE
    double expression on both engines, and FLOOR of identical doubles
    is deterministic (never ROUND — relational.py:13). The absmax
    element itself divides to exactly ±1.0 → q=±127.

    100 TB shape: pure map-side expression work inside whole-stage
    codegen — the per-vector fold (`aggregate`) and the fan-out
    (`posexplode`) never shuffle; in production you'd keep the packed
    array form and write (vec_id, scale, int8[]) — the exploded form
    here exists for the differential gate."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE),"
            " (a, x) -> greatest(a, CAST(abs(x) AS DOUBLE)))"
        ).alias("scale"),
        F.posexplode("embedding").alias("p", "v"),
    )
    return base.select(
        "vec_id",
        (F.col("p") + 1).cast("long").alias("pos"),
        F.when(F.col("scale") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor((F.col("v").cast("double") / F.col("scale")) * 127)
        )
        .alias("q"),
        F.floor(F.col("scale") * 1_000_000).cast("long").alias("scale_micro"),
    )


# ---------------------------------------------------------------------------
# Round 3: containment dedup, vocabulary/OOV audit, log-frequency
# quality scoring, k-NN graph, intra-doc repetition — the quality-filter
# family a real pretraining pipeline runs alongside dedup.
# ---------------------------------------------------------------------------

CONTAIN_NUM, CONTAIN_DEN = 4, 5  # containment threshold 4/5 = 0.8


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest({duck_shingles('t')}) AS s FROM toks
        WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b, c.n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           c.n_common * 1.0 / LEAST(sa.n_sh, sb.n_sh) AS containment
    FROM common c
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
    WHERE c.n_common * {CONTAIN_DEN} >= LEAST(sa.n_sh, sb.n_sh) * {CONTAIN_NUM}
    """,
    tags=("llm", "dedup"),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: pairs where ≥80% of the SMALLER
    document's 3-token shingles appear in the other — the
    quote/subset/boilerplate duplication that symmetric Jaccard misses
    (a doc fully contained in a 10× larger one has Jaccard ≈ 0.1 but
    containment 1.0).

    The threshold test cross-multiplies exact int64 shingle counts
    (5·common ≥ 4·min) — no float compare; the reported containment
    ratio is one exact-int division at the end.

    100 TB shape: identical join geometry to q_dedup_ngram_jaccard —
    pairs generate only through the shared-shingle equi-join (never a
    crossJoin), the per-doc size table re-joins at pair grain (already
    collapsed), and hot shingles are the documented salt-or-drop knob.
    One pipeline serves both metrics; containment is a second
    HAVING-style predicate over the same pair counts — and both ops
    now literally read the SAME persisted pair-count fixture
    (shingle_pair_counts), so the heavy shared-shingle self-join runs
    once per session, not per metric. (Docs under 3 tokens shingle to
    an empty array, which explode drops — no explicit filter
    needed.)"""
    common = shingle_pair_counts(spark, sf_dir).withColumnRenamed(
        "shared", "n_common"
    )
    sizes = shingle_card(spark, sf_dir)
    sa = sizes.select(
        F.col("doc_id").alias("sa_id"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("sb_id"), F.col("n").alias("n_b")
    )
    least = F.least("n_a", "n_b")
    return (
        common.join(F.broadcast(sa), F.col("doc_a") == F.col("sa_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb_id"))
        .filter(F.col("n_common") * CONTAIN_DEN >= least * CONTAIN_NUM)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            (F.col("n_common") * 1.0 / least).alias("containment"),
        )
    )


VOCAB_K = 50


@query(
    "q_text_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT d.source, unnest(str_split(lower(d.text), ' ')) AS tok
        FROM documents d
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM tok GROUP BY tok
    ),
    vocab AS (
        SELECT tok FROM freq
        QUALIFY row_number() OVER (ORDER BY freq DESC, tok) <= {VOCAB_K}
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
           COUNT(*) FILTER (WHERE v.tok IS NULL) * 1.0 / COUNT(*) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.source
    """,
    tags=("llm", "text"),
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + out-of-vocabulary audit: the top-50 corpus
    tokens by frequency (deterministic tie-break on the token string)
    become the vocabulary; each source is scored by the fraction of its
    token stream falling outside it — the coverage check run before
    committing to a tokenizer/vocab on a new corpus mix.

    100 TB shape: the frequency table is a fact-scale token aggregate
    (map-side combine collapses repeats); the top-K is a TakeOrdered
    over the already-small distinct-token frame; the vocab (K rows)
    broadcasts back over the token stream, so the per-source audit is
    one more map-side-combined aggregate — no fact-fact shuffle
    anywhere. Counts stay int64; the rate is one exact-int division."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens("text")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("freq"))
    vocab = (
        freq.orderBy(F.desc("freq"), "tok")
        .limit(VOCAB_K)
        .select(F.col("tok").alias("vtok"))
    )
    joined = tok.join(
        F.broadcast(vocab), tok.tok == F.col("vtok"), "left"
    )
    n_oov = F.sum(F.when(F.col("vtok").isNull(), 1).otherwise(0))
    return joined.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        n_oov.alias("n_oov"),
        (n_oov * 1.0 / F.count("*")).alias("oov_rate"),
    )


@query(
    "q_text_logfreq_score",
    oracle="""
    WITH tok AS (
        SELECT d.doc_id, unnest(str_split(lower(d.text), ' ')) AS tok
        FROM documents d
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM tok GROUP BY tok
    ),
    bucketed AS (
        SELECT t.doc_id,
               CAST(length(printf('%b', f.freq)) - 1 AS BIGINT) AS bucket
        FROM tok t JOIN freq f ON t.tok = f.tok
    )
    SELECT doc_id,
           CAST(SUM(bucket) AS BIGINT) AS sum_log2f,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           SUM(bucket) * 1.0 / COUNT(*) AS mean_log2f
    FROM bucketed GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def q_text_logfreq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram log-frequency quality score — the cheap perplexity proxy
    (a doc of vanishingly rare tokens scores low; a doc of corpus-
    common tokens scores high; outliers on either end are filter
    candidates). Per token: ⌊log₂(corpus frequency)⌋, computed
    INTEGER-exactly as bit-length − 1 (binary-string length, mirrored
    by DuckDB's printf('%b')) — no float log whose last bit could
    differ at exact powers of two.

    100 TB shape: the frequency table aggregates once (map-side
    combine), then the per-doc scoring is a token-stream ⋈ frequency
    join; at real scale the frequency table's head (Zipf: a few
    thousand tokens cover >90% of the stream) broadcasts and the long
    tail shuffles — here the whole table is small enough that AQE picks
    the broadcast side automatically. Scores accumulate as exact int64
    sums with one final division."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("freq"))
    bucket = (
        F.length(F.conv(F.col("freq").cast("string"), 10, 2)) - 1
    ).cast("long")
    joined = tok.join(
        freq.select("tok", bucket.alias("bucket")), "tok"
    )
    return joined.groupBy("doc_id").agg(
        F.sum("bucket").alias("sum_log2f"),
        F.count("*").alias("n_tokens"),
        (F.sum("bucket") * 1.0 / F.count("*")).alias("mean_log2f"),
    )


KNN_K = 3


@query(
    "q_sim_knn_graph",
    oracle=f"""
    SELECT vec_id, nbr_id, rank, cos_sim FROM (
        SELECT a.vec_id, b.vec_id AS nbr_id,
               CAST(row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY round({duck_cosine('a.embedding', 'b.embedding')}, 6) DESC,
                            b.vec_id
               ) AS BIGINT) AS rank,
               round({duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
    ) WHERE rank <= {KNN_K}
    """,
    tags=("llm", "similarity"),
)
def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction: each vector's top-3 neighbors by exact
    cosine within its coarse (IVF label) bucket — the adjacency input
    for graph-based dedup, semantic clustering, and HNSW-style index
    seeding. Ties break on the 6-dp score then neighbor id, both
    engines identically.

    100 TB shape: neighbor candidates generate ONLY through the
    label-bucket self-join (the IVF coarse quantizer bounds each
    bucket), never a global crossJoin; the per-vector top-k is a
    bounded window over the bucket partitioning — the same exchange
    serves join and rank. Finer buckets (more labels) are the knob that
    keeps per-bucket pair counts flat as the corpus grows.

    Norms are projected per ROW before the self-join, so per-PAIR work
    is one dot-product fold instead of three (measured ~3× on the pair
    stage); dot/(na·nb) produces the identical double to the fused
    cosine, so the oracle keeps the canonical form. Probe side spread
    before the broadcast self-join so the pair fold uses every core
    (guide §2.6)."""
    base = load_table(spark, sf_dir, "embeddings")
    sel = lambda df: df.select(  # noqa: E731
        "vec_id", "label", "embedding", norm("embedding").alias("nrm")
    )
    a = sel(spread(base)).alias("a")
    b = sel(base).alias("b")
    cos = F.round(
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_sim"), F.col("nbr_id")
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nbr_id"),
            cos.alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", "nbr_id", "rank", "cos_sim")
    )


# ---------------------------------------------------------------------------
# Similarity: graph-based ANN (HNSW-class two-layer beam search)
# ---------------------------------------------------------------------------

GRAPH_HUB_MOD = 16  # hub layer = vec_id % 16 (the deterministic sample)
GRAPH_L2_MOD = 256  # hubs-of-hubs = vec_id % 256 (1/16 of the hub layer)
GRAPH_L3_MOD = 4096  # third layer = vec_id % 4096; engages only when non-empty
# The ladder's no-vector-left-cell-less invariant (every routed l3 cell
# contains >= 1 l2 member) holds because every l3 center IS an l2 member
# that self-routes — which requires the sample moduli to nest. A modulus
# change breaking divisibility would silently drop vectors from the
# routing (ADVICE r13), so the nesting is asserted at import:
assert GRAPH_L3_MOD % GRAPH_L2_MOD == 0, "l3 centers must be l2 members"
assert GRAPH_L2_MOD % GRAPH_HUB_MOD == 0, "l2 centers must be hubs"
INC_ADD_MOD = 8  # vec_id % INC_ADD_MOD == INC_ADD_MOD-1 is the new batch
GRAPH_ROUTE = 3  # descent multiplicity: parent cells kept per layer
GRAPH_NCELL = 3  # Voronoi multiplicity: each vector joins 3 hub cells
GRAPH_K1 = 8  # base-layer degree (top-k within shared hub cells)
GRAPH_K2 = 2  # descent links: vector -> nearest hubs
GRAPH_K3 = 4  # hub-layer degree (hub -> nearest hubs)
GRAPH_BEAM = 12  # beam width per expansion round
GRAPH_ROUNDS = 5  # unrolled beam-expansion rounds


def _graph_route_l2(
    vecs: DataFrame,
    l2: DataFrame,
    l3: DataFrame,
    ladder: bool,
    l2_cells: DataFrame | None = None,
) -> tuple:
    """Route ``vecs`` (vec_id, embedding, nrm) to their top-ROUTE
    layer-2 cells; returns ``(routed, l2_cells)``. With ``ladder``
    (the 1/``GRAPH_L3_MOD`` sample is non-empty), descend: one
    broadcast against the layer-3 codebook, then layer-2 scoring
    restricted to l2 entries sharing a routed layer-3 cell —
    per-vector work bounded by ROUTE × cell occupancy. ``l2_cells``
    (l2_id → l3_id membership) defaults to the routing of the l2
    members inside ``vecs`` (the self-contained build); incremental
    add passes the FROZEN base membership instead, because a new
    batch contains no layer members of its own. Every routed cell
    contains at least its own center (an l2 member routed to itself
    at cosine 1.0), so no vector is left cell-less. Without the
    ladder the direct broadcast IS the cheap plan."""
    l2_cos = F.round(
        dot(F.col("embedding"), F.col("l2vec"))
        / (F.col("nrm") * F.col("l2nrm")),
        6,
    )
    wr = Window.partitionBy("vec_id").orderBy(F.desc("rc"), "l2_id")
    if not ladder:
        routed = (
            vecs.crossJoin(F.broadcast(l2))
            .select("vec_id", "l2_id", l2_cos.alias("rc"))
            .withColumn("rr", F.row_number().over(wr))
            .filter(F.col("rr") <= GRAPH_ROUTE)
            .select("vec_id", "l2_id")
            .localCheckpoint()
        )
        return routed, None
    l3_cos = F.round(
        dot(F.col("embedding"), F.col("l3vec"))
        / (F.col("nrm") * F.col("l3nrm")),
        6,
    )
    wr3 = Window.partitionBy("vec_id").orderBy(F.desc("rc3"), "l3_id")
    r3 = (
        vecs.crossJoin(F.broadcast(l3))
        .select("vec_id", "l3_id", l3_cos.alias("rc3"))
        .withColumn("rr3", F.row_number().over(wr3))
        .filter(F.col("rr3") <= GRAPH_ROUTE)
        .select("vec_id", "l3_id")
        .localCheckpoint()
    )
    if l2_cells is None:
        l2_cells = r3.filter(F.col("vec_id") % GRAPH_L2_MOD == 0).select(
            F.col("vec_id").alias("l2_id"), "l3_id"
        )
    cand2 = r3.join(l2_cells, "l3_id").select("vec_id", "l2_id").distinct()
    routed = (
        cand2.join(vecs, "vec_id")
        .join(l2, "l2_id")
        .select("vec_id", "l2_id", l2_cos.alias("rc"))
        .withColumn("rr", F.row_number().over(wr))
        .filter(F.col("rr") <= GRAPH_ROUTE)
        .select("vec_id", "l2_id")
        .localCheckpoint()
    )
    return routed, l2_cells


def graph_ann_build(
    spark: SparkSession, sf_dir: str, where: str | None = None
) -> DataFrame:
    """Build the three-layer navigable neighbor graph (the HNSW shape,
    batch-constructed): layer 2 = the deterministic 1/256 sample
    (hubs-of-hubs), layer 1 = the 1/16 sample, layer 0 = every vector.
    Assignment DESCENDS the hierarchy instead of scoring the full hub
    set: each vector is routed to its top-``GRAPH_ROUTE`` layer-2
    cells (one broadcast of the N/256-row codebook), and layer-1
    scoring is then restricted to hubs sharing a routed layer-2 cell —
    O(ROUTE·16·ROUTE) candidates per vector instead of N/16. Four
    bounded-degree edge families connect the index — base-layer
    top-``GRAPH_K1`` within shared cells (cosine-coherent locality;
    the label buckets are NOT cosine clusters on this fixture,
    measured AUC 0.47, so Voronoi cells replace them), descent
    top-``GRAPH_K2`` vector→hub links, hub-layer top-``GRAPH_K3``
    hub→hub links within shared layer-2 cells (mid-range
    navigability), and layer-2 top-``GRAPH_K3`` interconnect
    (long-range navigability over the tiny top layer). Edges are
    symmetrized and deduped; the result is localCheckpoint'd and
    session-cached — it is the INDEX, built once, probed per query.

    100 TB shape: the O(N·log N) ladder. When the ``GRAPH_L3_MOD``
    layer is non-empty (N ≳ 4096 — an existence probe on the driver,
    metadata-grain), layer-2 routing itself descends: every vector is
    scored against the N/4096-row layer-3 codebook (one broadcast) and
    layer-2 scoring is restricted to l2 entries sharing a routed
    layer-3 cell — per-vector layer-2 work is bounded by
    ROUTE · max-cell-occupancy (≈16·ROUTE²), not N/256. The only
    full-layer scan left is N × N/4096; recurse the same 1/16
    sampling again when THAT codebook outgrows one broadcast — each
    added layer divides the top scan by 16 and adds one O(N·const)
    candidate join. At the test SFs (N ≤ 2000) the layer-3 sample is
    empty and routing falls back to the direct N × N/256 broadcast —
    bit-identical to the two-layer build, so serving hashes are
    unchanged where the ladder is not needed. Everything else is
    candidate-join bounded: layer-1 scoring through the shared-cell
    join (≈16·ROUTE² scores/vector), base-layer candidates through
    the cell-membership self-join (pair space Σ|cell|², the bucketed
    bound every dedup family here shares), hub pairs through shared
    layer-2 cells. Degree is capped by construction, so the edge
    table is ≤ (K1+K2+2·K3)·2·N rows — linear in N. Measured
    (SCALE.md §21, two-layer descent): build wall 13.15 → 24.74 s at
    the 10× probe (~1.9×, was ~21× with the flat N×N/16 scoring);
    §23 measures the three-layer ladder.

    ``where`` restricts the indexed base (the frozen-base fixture of
    ``q_sim_graph_ann_add``, mirroring ``ivf_train``'s parameter)."""
    return _graph_ann_parts(spark, sf_dir, where)["edges"]


@session_cached
def _graph_ann_parts(
    spark: SparkSession, sf_dir: str, where: str | None = None
) -> dict:
    """The build internals: returns {'edges', 'scored', 'r2', 'e',
    'ladder', 'l2_cells'} so incremental maintenance
    (``q_sim_graph_ann_add`` / ``q_sim_graph_ann_compact``) can reuse
    the FROZEN layer routing and cell assignments without a rebuild."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", norm("embedding").alias("nrm"))
    )
    if where:
        e = e.filter(where)
    hubs = e.filter(F.col("vec_id") % GRAPH_HUB_MOD == 0).select(
        F.col("vec_id").alias("hub_id"),
        F.col("embedding").alias("hvec"),
        F.col("nrm").alias("hnrm"),
    )
    l2 = e.filter(F.col("vec_id") % GRAPH_L2_MOD == 0).select(
        F.col("vec_id").alias("l2_id"),
        F.col("embedding").alias("l2vec"),
        F.col("nrm").alias("l2nrm"),
    )
    l3 = e.filter(F.col("vec_id") % GRAPH_L3_MOD == 0).select(
        F.col("vec_id").alias("l3_id"),
        F.col("embedding").alias("l3vec"),
        F.col("nrm").alias("l3nrm"),
    )
    # Driver-side existence probe (metadata-grain: LIMIT 1 on the
    # 1/4096 sample) decides whether the ladder has a third rung; a
    # declarative gate can't prune the fallback's full-layer scan.
    # Layer-2 routing. Hubs are vectors too, so their routing falls
    # out of the same pass — no separate hub-assignment scan.
    ladder = l3.limit(1).count() > 0
    r2, l2_cells = _graph_route_l2(e, l2, l3, ladder)
    hub_r2 = r2.filter(F.col("vec_id") % GRAPH_HUB_MOD == 0).select(
        F.col("vec_id").alias("hub_id"), "l2_id"
    )
    # Layer-1 candidates = hubs sharing a routed layer-2 cell; the
    # scoring join replaces the flat N × N/16 crossJoin — THE fix
    # that makes the build O(N·const) per layer.
    cand = r2.join(hub_r2, "l2_id").select("vec_id", "hub_id").distinct()
    hub_cos = F.round(
        dot(F.col("embedding"), F.col("hvec"))
        / (F.col("nrm") * F.col("hnrm")),
        6,
    )
    # Cell assignment (top-NCELL) and the descent edge family (top-K2
    # excluding self) both derive from one top-max(NCELL, K2+1)
    # window — K2+1 because at most ONE of the overall top-(K2+1)
    # rows is the self hub, so the top-K2 non-self rows of the full
    # ranking all survive the cap. Both consumers' exchange subtrees
    # are then IDENTICAL (candidate scoring + partial
    # WindowGroupLimit below the vec_id exchange), so
    # ReuseExchange/AQE stage reuse runs the scoring pass once
    # instead of twice; e2's re-rank of the <= cap surviving rows per
    # vector adds a window on the SAME partitioning, no new exchange.
    wv = Window.partitionBy("vec_id").orderBy(F.desc("c"), "hub_id")
    cap = max(GRAPH_NCELL, GRAPH_K2 + 1)
    scored = (
        cand.join(e, "vec_id")
        .join(hubs, "hub_id")
        .select("vec_id", "hub_id", hub_cos.alias("c"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= cap)
        .localCheckpoint()
    )
    asg = scored.filter(F.col("rn") <= GRAPH_NCELL).select(
        "vec_id", "hub_id"
    )
    pairs = (
        asg.alias("x")
        .join(
            asg.alias("y"),
            (F.col("x.hub_id") == F.col("y.hub_id"))
            & (F.col("x.vec_id") != F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("va"), F.col("y.vec_id").alias("vb")
        )
        .distinct()
    )
    pair_cos = F.round(
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    ws = Window.partitionBy("src").orderBy(F.desc("c"), "dst")
    e1 = (
        pairs.join(e.alias("a"), pairs.va == F.col("a.vec_id"))
        .join(e.alias("b"), pairs.vb == F.col("b.vec_id"))
        .select(
            F.col("va").alias("src"),
            F.col("vb").alias("dst"),
            pair_cos.alias("c"),
        )
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= GRAPH_K1)
        .select("src", "dst")
    )
    e2 = (
        scored.filter(F.col("vec_id") != F.col("hub_id"))
        .withColumn("rn2", F.row_number().over(wv))
        .filter(F.col("rn2") <= GRAPH_K2)
        .select(
            F.col("vec_id").alias("src"), F.col("hub_id").alias("dst")
        )
    )
    # Hub-layer links generate through shared layer-2 cells (the same
    # candidate bound as the base layer), not the flat (N/16)² pair
    # space the pre-hierarchy build scored.
    hub_pairs = (
        hub_r2.alias("x")
        .join(
            hub_r2.alias("y"),
            (F.col("x.l2_id") == F.col("y.l2_id"))
            & (F.col("x.hub_id") != F.col("y.hub_id")),
        )
        .select(
            F.col("x.hub_id").alias("ha"), F.col("y.hub_id").alias("hb")
        )
        .distinct()
    )
    hh_cos = F.round(
        dot(F.col("a.hvec"), F.col("b.hvec"))
        / (F.col("a.hnrm") * F.col("b.hnrm")),
        6,
    )
    e3 = (
        hub_pairs.join(hubs.alias("a"), hub_pairs.ha == F.col("a.hub_id"))
        .join(hubs.alias("b"), hub_pairs.hb == F.col("b.hub_id"))
        .select(
            F.col("ha").alias("src"),
            F.col("hb").alias("dst"),
            hh_cos.alias("c"),
        )
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= GRAPH_K3)
        .select("src", "dst")
    )
    # Layer-2 interconnect: the long-range links now live on the tiny
    # top layer (N/256 rows — all-pairs here is (N/256)², the next
    # recursion target if the top layer ever outgrows one task).
    l2l2_cos = F.round(
        dot(F.col("a.l2vec"), F.col("b.l2vec"))
        / (F.col("a.l2nrm") * F.col("b.l2nrm")),
        6,
    )
    e4 = (
        l2.alias("a")
        .join(
            F.broadcast(l2.alias("b")),
            F.col("a.l2_id") != F.col("b.l2_id"),
        )
        .select(
            F.col("a.l2_id").alias("src"),
            F.col("b.l2_id").alias("dst"),
            l2l2_cos.alias("c"),
        )
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= GRAPH_K3)
        .select("src", "dst")
    )
    fwd = e1.unionByName(e2).unionByName(e3).unionByName(e4)
    edges = (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    parts = {
        "edges": edges,
        "scored": scored,
        "r2": r2,
        "e": e,
        "ladder": ladder,
        "l2_cells": l2_cells,
    }
    return parts


def _graph_build_ctes(base_where: str = "") -> list:
    """The build half of the DuckDB mirror: CTEs from the base frame
    ``e`` through the symmetrized ``edges`` table, bit-for-bit with
    ``_graph_ann_parts`` (routing branch, candidate restriction, and
    every window share the 6-dp-rounded cosine + id tie-break).
    ``base_where`` narrows the indexed base (the frozen-base fixture
    of ``q_sim_graph_ann_add``)."""
    cos_eq = duck_cosine("a.embedding", "b.embedding")
    cos_eh = duck_cosine("a.embedding", "h.embedding")
    cap = max(GRAPH_NCELL, GRAPH_K2 + 1)
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings"
        f" WHERE vec_id <> 0{base_where})",
        "hubs AS MATERIALIZED (SELECT vec_id, embedding FROM e"
        f" WHERE vec_id % {GRAPH_HUB_MOD} = 0)",
        "l2 AS MATERIALIZED (SELECT vec_id, embedding FROM e"
        f" WHERE vec_id % {GRAPH_L2_MOD} = 0)",
        # Three-layer ladder mirror: when the 1/4096 sample is
        # non-empty, layer-2 candidates come from the layer-3 descent;
        # otherwise the direct e × l2 cross (the two branches are
        # mutually exclusive — r3 is empty exactly when l3 is).
        "l3 AS MATERIALIZED (SELECT vec_id, embedding FROM e"
        f" WHERE vec_id % {GRAPH_L3_MOD} = 0)",
        f"""r3 AS MATERIALIZED (SELECT vec_id, l3_id FROM (
            SELECT a.vec_id, h.vec_id AS l3_id,
                   row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY round({cos_eh}, 6) DESC, h.vec_id) AS rr3
            FROM e a CROSS JOIN l3 h
        ) WHERE rr3 <= {GRAPH_ROUTE})""",
        f"""r2cand AS MATERIALIZED (
            SELECT DISTINCT v.vec_id AS vid, g.vec_id AS l2c
            FROM r3 v JOIN (SELECT vec_id, l3_id FROM r3
                            WHERE vec_id % {GRAPH_L2_MOD} = 0) g
              ON v.l3_id = g.l3_id
            UNION ALL
            SELECT a.vec_id, h.vec_id FROM e a CROSS JOIN l2 h
            WHERE NOT EXISTS (SELECT 1 FROM l3))""",
        f"""r2 AS MATERIALIZED (SELECT vec_id, l2_id FROM (
            SELECT c0.vid AS vec_id, c0.l2c AS l2_id,
                   row_number() OVER (PARTITION BY c0.vid
                       ORDER BY round({cos_eh}, 6) DESC, c0.l2c) AS rr
            FROM r2cand c0 JOIN e a ON a.vec_id = c0.vid
            JOIN e h ON h.vec_id = c0.l2c
        ) WHERE rr <= {GRAPH_ROUTE})""",
        f"""cand AS MATERIALIZED (SELECT DISTINCT v.vec_id AS vid,
                   g.vec_id AS hub
            FROM r2 v JOIN r2 g ON v.l2_id = g.l2_id
            WHERE g.vec_id % {GRAPH_HUB_MOD} = 0)""",
        f"""scored AS MATERIALIZED (SELECT vid, hub, c, rn FROM (
            SELECT c0.vid, c0.hub, round({cos_eh}, 6) AS c,
                   row_number() OVER (PARTITION BY c0.vid
                       ORDER BY round({cos_eh}, 6) DESC, c0.hub) AS rn
            FROM cand c0 JOIN e a ON a.vec_id = c0.vid
            JOIN e h ON h.vec_id = c0.hub
        ) WHERE rn <= {cap})""",
        f"asg AS MATERIALIZED (SELECT vid AS vec_id, hub FROM scored"
        f" WHERE rn <= {GRAPH_NCELL})",
        f"""e1 AS (SELECT src, dst FROM (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY round({cos_eq}, 6) DESC, b.vec_id) AS rn
            FROM (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
                  FROM asg x JOIN asg y
                    ON x.hub = y.hub AND x.vec_id <> y.vec_id) p
            JOIN e a ON a.vec_id = p.va JOIN e b ON b.vec_id = p.vb
        ) WHERE rn <= {GRAPH_K1})""",
        f"""e2 AS (SELECT src, dst FROM (
            SELECT vid AS src, hub AS dst,
                   row_number() OVER (PARTITION BY vid
                       ORDER BY c DESC, hub) AS rn2
            FROM scored WHERE vid <> hub
        ) WHERE rn2 <= {GRAPH_K2})""",
        f"""hubr AS MATERIALIZED (SELECT vec_id AS hub, l2_id FROM r2
            WHERE vec_id % {GRAPH_HUB_MOD} = 0)""",
        f"""e3 AS (SELECT src, dst FROM (
            SELECT p.ha AS src, p.hb AS dst,
                   row_number() OVER (PARTITION BY p.ha
                       ORDER BY round({cos_eq}, 6) DESC, p.hb) AS rn
            FROM (SELECT DISTINCT x.hub AS ha, y.hub AS hb
                  FROM hubr x JOIN hubr y
                    ON x.l2_id = y.l2_id AND x.hub <> y.hub) p
            JOIN e a ON a.vec_id = p.ha JOIN e b ON b.vec_id = p.hb
        ) WHERE rn <= {GRAPH_K3})""",
        f"""e4 AS (SELECT src, dst FROM (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY round({cos_eq}, 6) DESC, b.vec_id) AS rn
            FROM l2 a JOIN l2 b ON a.vec_id <> b.vec_id
        ) WHERE rn <= {GRAPH_K3})""",
        """edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM e1 UNION ALL SELECT src, dst FROM e2
            UNION ALL SELECT src, dst FROM e3
            UNION ALL SELECT src, dst FROM e4
            UNION ALL SELECT dst, src FROM e1
            UNION ALL SELECT dst, src FROM e2
            UNION ALL SELECT dst, src FROM e3
            UNION ALL SELECT dst, src FROM e4))""",
    ]
    return ctes


def _graph_serve_ctes(
    edges: str = "edges", score: str = "e", hubs: str = "hubs"
) -> tuple:
    """The serve half of the mirror: entry pool over the hub layer,
    then GRAPH_ROUNDS unrolled beam rounds gathering through the
    ``edges`` table and scoring candidates from the ``score`` frame
    (the base for plain serve; base ∪ batch for serve-after-add).
    Returns (ctes, final_pool_name)."""
    cos_q = duck_cosine("e.embedding", "q.qv")
    ctes = [
        "q AS MATERIALIZED (SELECT embedding AS qv FROM embeddings"
        " WHERE vec_id = 0)",
        "pool0 AS MATERIALIZED (SELECT h.vec_id,"
        f" round({duck_cosine('h.embedding', 'q.qv')}, 6) AS c"
        f" FROM {hubs} h CROSS JOIN q)",
        f"f0 AS (SELECT vec_id FROM pool0"
        f" ORDER BY c DESC, vec_id LIMIT {GRAPH_BEAM})",
    ]
    for i in range(GRAPH_ROUNDS):
        ctes.append(
            f"""new{i} AS MATERIALIZED (
            SELECT e.vec_id, round({cos_q}, 6) AS c
            FROM (SELECT DISTINCT ed.dst AS vec_id
                  FROM f{i} f JOIN {edges} ed ON ed.src = f.vec_id) cand
            JOIN {score} e USING (vec_id) CROSS JOIN q
            WHERE cand.vec_id NOT IN (SELECT vec_id FROM pool{i}))"""
        )
        ctes.append(
            f"pool{i + 1} AS MATERIALIZED (SELECT * FROM pool{i}"
            f" UNION ALL SELECT * FROM new{i})"
        )
        ctes.append(
            f"f{i + 1} AS (SELECT vec_id FROM new{i}"
            f" ORDER BY c DESC, vec_id LIMIT {GRAPH_BEAM})"
        )
    return ctes, f"pool{GRAPH_ROUNDS}"


def _graph_ann_oracle() -> str:
    """DuckDB replay of the hierarchical graph build + beam search,
    unrolled as one MATERIALIZED-CTE chain (the pools and the edge
    table are referenced more than once; without the hint DuckDB
    re-inlines them and the build cost goes exponential in the round
    count). Composed from ``_graph_build_ctes`` + ``_graph_serve_ctes``
    so ``q_sim_graph_ann_add`` mirrors the same machinery."""
    serve, last = _graph_serve_ctes()
    ctes = _graph_build_ctes() + serve
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT vec_id, c AS cos_sim,
           (SELECT CAST(count(*) AS BIGINT) FROM {last}) AS n_scored
    FROM {last} ORDER BY c DESC, vec_id LIMIT {TOPK}"""
    )


@query(
    "q_sim_graph_ann", oracle=_graph_ann_oracle(), tags=("llm", "similarity")
)
def q_sim_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN serving (the HNSW-class index family): beam
    search over the two-layer bounded-degree neighbor graph of
    ``graph_ann_build``. Entry = score the hub layer (the top-layer
    descent), then ``GRAPH_ROUNDS`` unrolled beam-expansion rounds:
    frontier → neighbor gather through the edge table → score the
    UNSEEN candidates against the query → the best ``GRAPH_BEAM`` of
    the new arrivals become the next frontier. Every scored vector
    accumulates in the visited pool; the answer is the pool's top-k,
    with ``n_scored`` = |pool| as the candidate-budget proof column.
    Ranking is 6-dp-rounded cosine with vec_id tie-break at every
    decision point, so DuckDB replays build + search bit-for-bit.

    Recall contract (tests/test_ann_recall.py): at each SF the pool is
    no larger than the matched-nprobe IVF candidate set and recall@20
    is ≥ IVF's at that budget (measured: 1.00/1.00/0.65 vs IVF's
    1.00/1.00/0.65 at sf0.001/0.01/0.1, with ~10% fewer candidates at
    sf0.1 — the graph walks to the same recall cheaper).

    100 TB shape: the entry scan touches only the hub layer (1/16 of
    N; recurse the hierarchy to make it logarithmic); each round is a
    broadcast of the ≤BEAM-row frontier against the degree-bounded
    edge table, then a semi-join point-gather of the new candidates —
    served by a vec_id-bucketed store at scale so the gather prunes to
    the touched buckets instead of scanning. Per-query work is
    O(hubs + ROUNDS·BEAM·degree) scores, independent of N."""
    pool = _plain_beam_pool(spark, sf_dir)
    total = pool.agg(F.count("*").alias("n_scored"))
    return (
        pool.orderBy(F.desc("c"), "vec_id")
        .limit(TOPK)
        .select("vec_id", F.col("c").alias("cos_sim"))
        .crossJoin(F.broadcast(total))
    )


@session_cached
def _plain_beam_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default-query beam pool over the full-base index, session-
    cached: three serving keys consume this identical pool
    (q_sim_graph_ann, the float arm of q_sim_graph_ann_adc, the
    post-filter arm of q_sim_graph_ann_filtered via a label join) —
    the walk's localCheckpointed rounds run once per (session, sf).
    q_sim_graph_ann_persist deliberately does NOT use it: its pool
    must derive from the RELOADED edge table or the round-trip proof
    is vacuous."""
    edges = graph_ann_build(spark, sf_dir)
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", norm("embedding").alias("nrm"))
    )
    pool = _graph_beam_serve(spark, sf_dir, edges, e, e)
    return pool


def _query_cosine(q: DataFrame) -> tuple[DataFrame, Column]:
    """The one-row query frame ``q`` as a broadcast (qv, qnrm) row, and
    the 6-dp cosine of a row's (embedding, nrm) against it: the score
    the single-query graph walks rank by."""
    qv = F.broadcast(
        q.select(F.col("embedding").alias("qv"), norm("embedding").alias("qnrm"))
    )
    score = F.round(
        dot(F.col("embedding"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")),
        6,
    )
    return qv, score


def _graph_beam_serve(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame,
    score_e: DataFrame,
    entry_e: DataFrame,
) -> DataFrame:
    """The beam search shared by plain serve and serve-after-add:
    entry pool = the hub layer of ``entry_e`` (the indexed base —
    a new batch never joins the layers), candidates scored from
    ``score_e`` (base, or base ∪ batch after an add). Returns the
    visited pool (vec_id, c)."""
    qv, score = _query_cosine(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0)
    )
    pool = (
        entry_e.filter(F.col("vec_id") % GRAPH_HUB_MOD == 0)
        .crossJoin(qv)
        .select("vec_id", score.alias("c"))
        .localCheckpoint()
    )
    return beam_walk(
        pool,
        edges,
        lambda ids: (
            ids.join(score_e, "vec_id")
            .crossJoin(qv)
            .select("vec_id", score.alias("c"))
        ),
        lambda new: (
            new.orderBy(F.desc("c"), "vec_id").limit(GRAPH_BEAM).select("vec_id")
        ),
    )


def beam_walk(pool: DataFrame, edges: DataFrame, score, top) -> DataFrame:
    """The graph-ANN beam walk every serving key shares:
    ``GRAPH_ROUNDS`` rounds of frontier = ``top(new)`` (the entry
    ``pool`` is round 0's ``new``) → broadcast gather of the
    frontier's out-edges → the UNSEEN candidates, ``score``d → pooled.
    The walk is keyed by the frontier's columns: ``vec_id`` for one
    query, ``qid, vec_id`` for a batch. ``score`` maps candidate keys
    to scored pool rows; ``top`` picks a frontier from scored rows.
    Every round's arrivals and pool are localCheckpointed, so lineage
    never spans more than one round. Returns the visited pool."""
    new = pool
    for _ in range(GRAPH_ROUNDS):
        frontier = top(new)
        keys = frontier.columns
        cand = (
            F.broadcast(frontier)
            .join(edges, frontier.vec_id == edges.src)
            .select(
                *(k for k in keys if k != "vec_id"), F.col("dst").alias("vec_id")
            )
            .distinct()
        )
        new = score(
            cand.join(pool.select(*keys), keys, "left_anti")
        ).localCheckpoint()
        pool = pool.unionByName(new).localCheckpoint()
    return pool


def _graph_add_oracle() -> str:
    """DuckDB replay of incremental graph-ANN add: the base build CTEs
    (batch excluded), then the frozen-layer insert of the batch —
    routing, cell assignment, descent + base-layer edge append — and
    the beam serve over base ∪ appended edges with base ∪ batch
    scoring. Bit-for-bit with ``q_sim_graph_ann_add``."""
    cos_eq = duck_cosine("a.embedding", "b.embedding")
    cos_eh = duck_cosine("a.embedding", "h.embedding")
    cap = max(GRAPH_NCELL, GRAPH_K2 + 1)
    base = _graph_build_ctes(
        f" AND vec_id % {INC_ADD_MOD} <> {INC_ADD_MOD - 1}"
    )
    add = [
        "nb AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings"
        f" WHERE vec_id <> 0 AND vec_id % {INC_ADD_MOD}"
        f" = {INC_ADD_MOD - 1})",
        # Batch routing: the same ladder branch as the build, against
        # the FROZEN base layers; l2→l3 membership comes from the
        # BASE routing r3 (a batch has no layer members of its own).
        f"""nr3 AS MATERIALIZED (SELECT vec_id, l3_id FROM (
            SELECT a.vec_id, h.vec_id AS l3_id,
                   row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY round({cos_eh}, 6) DESC, h.vec_id) AS rr3
            FROM nb a CROSS JOIN l3 h
        ) WHERE rr3 <= {GRAPH_ROUTE})""",
        f"""nr2cand AS MATERIALIZED (
            SELECT DISTINCT v.vec_id AS vid, g.vec_id AS l2c
            FROM nr3 v JOIN (SELECT vec_id, l3_id FROM r3
                             WHERE vec_id % {GRAPH_L2_MOD} = 0) g
              ON v.l3_id = g.l3_id
            UNION ALL
            SELECT a.vec_id, h.vec_id FROM nb a CROSS JOIN l2 h
            WHERE NOT EXISTS (SELECT 1 FROM l3))""",
        f"""nr2 AS MATERIALIZED (SELECT vec_id, l2_id FROM (
            SELECT c0.vid AS vec_id, c0.l2c AS l2_id,
                   row_number() OVER (PARTITION BY c0.vid
                       ORDER BY round({cos_eh}, 6) DESC, c0.l2c) AS rr
            FROM nr2cand c0 JOIN nb a ON a.vec_id = c0.vid
            JOIN e h ON h.vec_id = c0.l2c
        ) WHERE rr <= {GRAPH_ROUTE})""",
        f"""ncand AS MATERIALIZED (SELECT DISTINCT v.vec_id AS vid,
                   g.vec_id AS hub
            FROM nr2 v JOIN r2 g ON v.l2_id = g.l2_id
            WHERE g.vec_id % {GRAPH_HUB_MOD} = 0)""",
        f"""nscored AS MATERIALIZED (SELECT vid, hub, c, rn FROM (
            SELECT c0.vid, c0.hub, round({cos_eh}, 6) AS c,
                   row_number() OVER (PARTITION BY c0.vid
                       ORDER BY round({cos_eh}, 6) DESC, c0.hub) AS rn
            FROM ncand c0 JOIN nb a ON a.vec_id = c0.vid
            JOIN e h ON h.vec_id = c0.hub
        ) WHERE rn <= {cap})""",
        f"nasg AS MATERIALIZED (SELECT vid AS vec_id, hub FROM nscored"
        f" WHERE rn <= {GRAPH_NCELL})",
        f"""ne1 AS (SELECT src, dst FROM (
            SELECT p.va AS src, p.vb AS dst,
                   row_number() OVER (PARTITION BY p.va
                       ORDER BY round({cos_eq}, 6) DESC, p.vb) AS rn
            FROM (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
                  FROM nasg x JOIN asg y ON x.hub = y.hub) p
            JOIN nb a ON a.vec_id = p.va JOIN e b ON b.vec_id = p.vb
        ) WHERE rn <= {GRAPH_K1})""",
        f"""ne2 AS (SELECT src, dst FROM (
            SELECT vid AS src, hub AS dst,
                   row_number() OVER (PARTITION BY vid
                       ORDER BY c DESC, hub) AS rn2
            FROM nscored WHERE vid <> hub
        ) WHERE rn2 <= {GRAPH_K2})""",
        """appended AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM ne1 UNION ALL SELECT src, dst FROM ne2
            UNION ALL SELECT dst, src FROM ne1
            UNION ALL SELECT dst, src FROM ne2))""",
        """edges2 AS MATERIALIZED (SELECT src, dst FROM edges
            UNION SELECT src, dst FROM appended)""",
        "ea AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings"
        " WHERE vec_id <> 0)",
    ]
    serve, last = _graph_serve_ctes(edges="edges2", score="ea")
    ctes = base + add + serve
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT vec_id, c AS cos_sim,
           (SELECT CAST(count(*) AS BIGINT) FROM nb) AS n_added,
           (SELECT CAST(count(*) AS BIGINT) FROM appended)
               AS n_edges_appended,
           (SELECT CAST(count(*) AS BIGINT) FROM {last}) AS n_scored
    FROM {last} ORDER BY c DESC, vec_id LIMIT {TOPK}"""
    )


@query(
    "q_sim_graph_ann_add",
    oracle=_graph_add_oracle(),
    tags=("llm", "similarity", "index", "maintenance"),
)
def q_sim_graph_ann_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL graph-ANN maintenance — parity with the IVF
    lifecycle (``q_sim_ivf_incremental_add``): a new vector batch
    (vec_id % {INC_ADD_MOD} == {INC_ADD_MOD-1}, ~12% of the corpus)
    is inserted into the ALREADY-BUILT navigable graph WITHOUT a
    rebuild. Each new vector (1) routes through the FROZEN layer
    descent (the same ladder as the build — layer-3 broadcast when
    present, restricted layer-2 scoring), (2) scores only the base
    hubs sharing a routed layer-2 cell (top-``GRAPH_NCELL`` cell
    assignment + top-``GRAPH_K2`` descent links — the frozen E-step),
    and (3) appends degree-bounded base-layer edges: top-``GRAPH_K1``
    among base vectors sharing an assigned hub cell. Edges connect
    new→base ONLY (batch members never interconnect and never join
    the layers), which makes the insert ARRIVAL-ORDER-INDEPENDENT by
    construction: splitting the batch into any sub-batches added
    sequentially appends exactly the same edge set — the law pinned
    in tests/test_ann_recall.py, alongside connectivity (every added
    vector gets ≥1 edge: its assigned cells are non-empty — they
    contain at least the hub itself). The SAME beam serve then runs
    over base ∪ appended edges with base ∪ batch scoring — new
    vectors are reachable one hop off their assigned cells. Proof
    columns: n_added, n_edges_appended, n_scored.

    100 TB shape: the insert is O(batch) — batch × layer-codebook
    broadcasts for routing (never batch × N), candidate-join-bounded
    hub scoring, one bounded-degree edge append that in a persisted
    layout is a partition-local append by src bucket; the base index
    is NEVER rewritten or rescanned. Serve cost is unchanged
    (O(hubs + ROUNDS·BEAM·degree)). Reference lifecycle pattern:
    ``q_sim_ivf_incremental_add``."""
    base_w = f"vec_id % {INC_ADD_MOD} != {INC_ADD_MOD - 1}"
    parts = _graph_ann_parts(spark, sf_dir, where=base_w)
    appended = _graph_add_edges(spark, sf_dir, base_w, parts)
    # checkpoint: the beam loop re-reads the edge table every round —
    # without this the union+distinct recomputes 5x
    edges2 = (
        parts["edges"].unionByName(appended).distinct().localCheckpoint()
    )
    e_all = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", norm("embedding").alias("nrm"))
    )
    pool = _graph_beam_serve(spark, sf_dir, edges2, e_all, parts["e"])
    n_added = e_all.filter(
        f"vec_id % {INC_ADD_MOD} = {INC_ADD_MOD - 1}"
    ).agg(F.count("*").alias("n_added"))
    n_app = appended.agg(F.count("*").alias("n_edges_appended"))
    total = pool.agg(F.count("*").alias("n_scored"))
    return (
        pool.orderBy(F.desc("c"), "vec_id")
        .limit(TOPK)
        .select("vec_id", F.col("c").alias("cos_sim"))
        .crossJoin(F.broadcast(n_added))
        .crossJoin(F.broadcast(n_app))
        .crossJoin(F.broadcast(total))
    )


def _graph_add_edges(
    spark: SparkSession,
    sf_dir: str,
    base_where: str,
    parts: dict,
    batch: DataFrame | None = None,
) -> DataFrame:
    """The frozen-base edge append for a batch (``batch`` when given,
    else the complement of ``base_where``): routing → hub scoring →
    degree-bounded new→base edges, symmetrized. Split out so the
    arrival-order-independence law can run it per sub-batch, and so
    the streaming ingest loop (``q_stream_graph_upsert``) can insert
    each micro-batch through the identical path."""
    e_base = parts["e"]
    l2 = e_base.filter(F.col("vec_id") % GRAPH_L2_MOD == 0).select(
        F.col("vec_id").alias("l2_id"),
        F.col("embedding").alias("l2vec"),
        F.col("nrm").alias("l2nrm"),
    )
    l3 = e_base.filter(F.col("vec_id") % GRAPH_L3_MOD == 0).select(
        F.col("vec_id").alias("l3_id"),
        F.col("embedding").alias("l3vec"),
        F.col("nrm").alias("l3nrm"),
    )
    hubs = e_base.filter(F.col("vec_id") % GRAPH_HUB_MOD == 0).select(
        F.col("vec_id").alias("hub_id"),
        F.col("embedding").alias("hvec"),
        F.col("nrm").alias("hnrm"),
    )
    if batch is None:
        batch = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") != 0)
            .filter(f"NOT ({base_where})")
            .select("vec_id", "embedding", norm("embedding").alias("nrm"))
        )
    r2_nb, _ = _graph_route_l2(
        batch, l2, l3, parts["ladder"], l2_cells=parts["l2_cells"]
    )
    hub_r2 = parts["r2"].filter(
        F.col("vec_id") % GRAPH_HUB_MOD == 0
    ).select(F.col("vec_id").alias("hub_id"), "l2_id")
    cand_nb = (
        r2_nb.join(hub_r2, "l2_id").select("vec_id", "hub_id").distinct()
    )
    hub_cos = F.round(
        dot(F.col("embedding"), F.col("hvec"))
        / (F.col("nrm") * F.col("hnrm")),
        6,
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("c"), "hub_id")
    cap = max(GRAPH_NCELL, GRAPH_K2 + 1)
    scored_nb = (
        cand_nb.join(batch, "vec_id")
        .join(hubs, "hub_id")
        .select("vec_id", "hub_id", hub_cos.alias("c"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= cap)
        .localCheckpoint()
    )
    asg_nb = scored_nb.filter(F.col("rn") <= GRAPH_NCELL).select(
        "vec_id", "hub_id"
    )
    e2_nb = (
        scored_nb.filter(F.col("vec_id") != F.col("hub_id"))
        .withColumn("rn2", F.row_number().over(wv))
        .filter(F.col("rn2") <= GRAPH_K2)
        .select(
            F.col("vec_id").alias("src"), F.col("hub_id").alias("dst")
        )
    )
    base_asg = parts["scored"].filter(F.col("rn") <= GRAPH_NCELL).select(
        F.col("vec_id").alias("bvec"), F.col("hub_id")
    )
    pairs = (
        asg_nb.join(base_asg, "hub_id")
        .select(F.col("vec_id").alias("va"), F.col("bvec").alias("vb"))
        .distinct()
    )
    pair_cos = F.round(
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    ws = Window.partitionBy("src").orderBy(F.desc("c"), "dst")
    e1_nb = (
        pairs.join(batch.alias("a"), pairs.va == F.col("a.vec_id"))
        .join(e_base.alias("b"), pairs.vb == F.col("b.vec_id"))
        .select(
            F.col("va").alias("src"),
            F.col("vb").alias("dst"),
            pair_cos.alias("c"),
        )
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= GRAPH_K1)
        .select("src", "dst")
    )
    fwd = e1_nb.unionByName(e2_nb)
    return (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )


@query(
    "q_text_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, str_split(lower(text), ' ') AS t
        FROM documents
    ),
    per_doc AS (
        SELECT source,
               CAST(len(t) - 2 AS BIGINT) AS total_3grams,
               CAST(len(list_distinct(list_transform(
                   range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
               ))) AS BIGINT) AS distinct_3grams
        FROM toks WHERE len(t) >= 3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(total_3grams) AS BIGINT) AS total_3grams,
           CAST(SUM(distinct_3grams) AS BIGINT) AS distinct_3grams,
           (SUM(total_3grams) - SUM(distinct_3grams)) * 1.0
               / SUM(total_3grams) AS dup_rate
    FROM per_doc GROUP BY source
    """,
    tags=("llm", "text"),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition audit (the Gopher/MassiveText-style
    quality filter): per source, the fraction of 3-gram occurrences
    that are repeats within their document — templated/boilerplate/
    looping text scores high and gets filtered before training.

    Pure map-only per doc (token count vs distinct-shingle count — no
    explode, no join, no shuffle until the per-source agg), so it runs
    at scan speed over 100 TB. Rates aggregate as exact int64 counts
    with one final division — never an average of per-doc floats, whose
    accumulation order would differ across engines and partitionings."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    per_doc = d.filter(F.size(t) >= 3).select(
        "source",
        (F.size(t) - 2).cast("long").alias("total_3grams"),
        F.size(shingles(t)).cast("long").alias("distinct_3grams"),
    )
    tot = F.sum("total_3grams")
    dis = F.sum("distinct_3grams")
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        tot.alias("total_3grams"),
        dis.alias("distinct_3grams"),
        ((tot - dis) * 1.0 / tot).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtering similarity join (PPJoin-style)
# ---------------------------------------------------------------------------

PREFIX_JACCARD_NUM, PREFIX_JACCARD_DEN = 1, 2  # threshold 0.5


@query(
    "q_dedup_prefix_filter",
    oracle=f"""
    WITH dtok AS (
        SELECT doc_id, {duck_shingles('t')} AS toks
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS t
              FROM documents)
        WHERE len(t) >= 3
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM dtok),
    freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY tok),
    ranked AS (
        SELECT t.doc_id, t.tok,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY f.df, t.tok) AS pos,
               COUNT(*) OVER (PARTITION BY t.doc_id) AS nd
        FROM tok t JOIN freq f ON t.tok = f.tok
    ),
    prefix AS (
        SELECT doc_id, tok FROM ranked
        WHERE pos <= nd - CAST(CEIL(nd * 0.5) AS BIGINT) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM prefix a JOIN prefix b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(da.toks, db.toks)) AS BIGINT) AS n_common,
           CAST(len(da.toks) AS BIGINT) AS n_a,
           CAST(len(db.toks) AS BIGINT) AS n_b,
           len(list_intersect(da.toks, db.toks)) * 1.0
               / (len(da.toks) + len(db.toks)
                  - len(list_intersect(da.toks, db.toks))) AS jaccard
    FROM cand c
    JOIN dtok da ON c.doc_a = da.doc_id
    JOIN dtok db ON c.doc_b = db.doc_id
    WHERE 3 * len(list_intersect(da.toks, db.toks))
          >= len(da.toks) + len(db.toks)
    """,
    tags=("llm", "dedup"),
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtering similarity join (shingle-set
    Jaccard ≥ 0.5) — the exact-threshold alternative to MinHash-LSH
    (same 3-token shingle universe as q_dedup_ngram_jaccard, different
    candidate generation): each doc's shingles are globally ordered
    rarest-first; two docs can only reach the threshold if they share
    an element in their first |d| − ⌈0.5·|d|⌉ + 1, so ONLY prefix
    shingles enter the candidate join. Zero false negatives, and the
    indexed stream shrinks to the prefix fraction (half here, less at
    higher thresholds). The set element must be high-cardinality for
    the filter to bite — raw tokens over a small vocabulary degenerate
    to all-pairs (measured: 31-token vocab → 12.5M candidates vs 409k
    with shingles at sf0.1).

    Verification never re-explodes: candidate pairs (already rare)
    join the two docs' shingle ARRAYS and take one array_intersect per
    pair. The threshold test is cross-multiplied exact int64
    (3·common ≥ n_a+n_b ⇔ Jaccard ≥ ½); the reported Jaccard is one
    exact-int division.

    100 TB shape: the frequency table and per-doc ranking are one
    shingle-grain aggregate + one window on the doc partitioning; the
    candidate join shuffles only prefix shingles (rarest-first ordering
    makes hot shingles structurally unlikely in prefixes — the property
    that kills the skew LSH band-joins have to salt away); verification
    is candidate-grain, proportional to output."""
    d = load_table(spark, sf_dir, "documents")
    # The shingle-array frame feeds FOUR subtrees (token explode for
    # ranking, the two array sides of verification) — materialize it
    # once (localCheckpoint) instead of re-deriving the split+zip_with
    # pipeline per consumer; at cluster scale this is the "stage the
    # tokenized corpus once" step every multi-pass text job does.
    dtok = (
        d.filter(F.size(tokens("text")) >= 3)
        .select("doc_id", shingles(tokens("text")).alias("toks"))
        .localCheckpoint()
    )
    tok = dtok.select("doc_id", F.explode("toks").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    wrank = Window.partitionBy("doc_id").orderBy("df", "tok")
    wcnt = Window.partitionBy("doc_id")
    ranked = (
        tok.join(freq, "tok")
        .withColumn("pos", F.row_number().over(wrank))
        .withColumn("nd", F.count("*").over(wcnt))
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("nd") - F.ceil(F.col("nd") * 0.5) + 1
    ).select("doc_id", "tok", "pos", "nd")
    a = prefix.alias("a")
    b = prefix.alias("b")
    # PPJoin's two LOSSLESS prunes ride in the same equi-join (no extra
    # shuffle), cutting candidates before the array-grain verify — the
    # 64× scale probe measured a 1600:1 candidate:output ratio without
    # them (26 M array_intersects for 16 k pairs):
    #  - length filter: J ≥ ½ forces 2·min(|a|,|b|) ≥ max(|a|,|b|);
    #  - positional filter: for the FIRST shared prefix token at
    #    (pos_a, pos_b), overlap ≤ 1 + min(nd_a−pos_a, nd_b−pos_b)
    #    (both arrays are in the same global rarest-first order), so a
    #    qualifying pair always survives via that earliest match while
    #    accidental single-shingle collisions between different-content
    #    docs fail the bound and never reach verification.
    pos_ub = F.lit(1) + F.least(
        F.col("a.nd") - F.col("a.pos"), F.col("b.nd") - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                2 * F.least(F.col("a.nd"), F.col("b.nd"))
                >= F.greatest(F.col("a.nd"), F.col("b.nd"))
            )
            & (3 * pos_ub >= F.col("a.nd") + F.col("b.nd")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        # Verification joins as SHUFFLED HASH with the build on the
        # candidate-pair side (guide §3.1 — pick the strategy
        # deliberately): sort-merge sorted the shingle-ARRAY side
        # twice just to attach 2-int pair rows; building the hash on
        # the pairs streams the arrays unsorted. Scale-safe build
        # side: candidates are PPJoin-pruned (∝ output) and each row
        # is two ints. Interleaved A/B ×5 at sf0.1: median 2.58 →
        # 2.17 s, every pair faster.
        .hint("shuffle_hash")
    )
    da = dtok.select(
        F.col("doc_id").alias("da_id"), F.col("toks").alias("toks_a")
    )
    db = dtok.select(
        F.col("doc_id").alias("db_id"), F.col("toks").alias("toks_b")
    )
    common = F.size(F.array_intersect("toks_a", "toks_b")).cast("long")
    na = F.size("toks_a").cast("long")
    nb = F.size("toks_b").cast("long")
    return (
        cand.join(da, cand.doc_a == F.col("da_id"))
        .join(db, cand.doc_b == F.col("db_id"))
        .filter(3 * common >= na + nb)
        .select(
            "doc_a",
            "doc_b",
            common.alias("n_common"),
            na.alias("n_a"),
            nb.alias("n_b"),
            (common * 1.0 / (na + nb - common)).alias("jaccard"),
        )
    )


MRL_DIMS = 16  # truncation prefix (Matryoshka-style), of 64 full dims


@query(
    "q_embed_truncate_mrl",
    oracle=f"""
    SELECT vec_id, label,
           CAST({MRL_DIMS} AS INTEGER) AS n_dims,
           round(sqrt({duck_dot('e.embedding[1:' + str(MRL_DIMS) + ']',
                                'e.embedding[1:' + str(MRL_DIMS) + ']')}), 6)
               AS norm_trunc,
           round(sqrt({duck_dot('e.embedding', 'e.embedding')}), 6)
               AS norm_full,
           round(sqrt({duck_dot('e.embedding[1:' + str(MRL_DIMS) + ']',
                                'e.embedding[1:' + str(MRL_DIMS) + ']')})
                 / sqrt({duck_dot('e.embedding', 'e.embedding')}), 6)
               AS retained
    FROM embeddings e
    """,
    tags=("llm", "similarity"),
)
def q_embed_truncate_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: how much of each vector's
    norm survives keeping only the first 16 of 64 dims — the
    measurement run before switching ANN serving to truncated
    embeddings (MRL-trained models concentrate signal in the prefix;
    rate ≈ 1 means the cheap index loses little). `retained` is exactly
    the cosine between the full vector and its zero-padded truncation,
    so this IS the per-vector recall proxy.

    Pure map at scan speed (two sequential-fold dots per row, same
    fold order both engines → identical doubles); at 100 TB this audit
    and the truncated-index build share one pass."""
    e = load_table(spark, sf_dir, "embeddings")
    trunc = F.slice("embedding", 1, MRL_DIMS)
    n_t = norm(trunc)
    n_f = norm(F.col("embedding"))
    return e.select(
        "vec_id",
        "label",
        F.lit(MRL_DIMS).cast("int").alias("n_dims"),
        F.round(n_t, 6).alias("norm_trunc"),
        F.round(n_f, 6).alias("norm_full"),
        F.round(n_t / n_f, 6).alias("retained"),
    )


@query(
    "q_dedup_fuzzy_edit",
    oracle="""
    WITH d AS (
        SELECT doc_id, text,
               array_to_string((str_split(lower(text), ' '))[1:3], ' ')
                   AS bucket,
               CAST(length(text) AS BIGINT) AS n
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           a.n AS n_a, b.n AS n_b
    FROM d a JOIN d b
      ON a.bucket = b.bucket AND a.doc_id < b.doc_id
     AND abs(a.n - b.n) * 5 <= LEAST(a.n, b.n)
    WHERE levenshtein(a.text, b.text) * 10 <= LEAST(a.n, b.n)
    """,
    tags=("llm", "dedup"),
)
def q_dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy dedup: pairs whose Levenshtein distance is
    ≤ 10% of the shorter text — the character-level notion of "same
    document, small edits" that shingle methods blur (they tolerate
    token reorder; edit distance does not). Candidates are PREFIX-
    BLOCKED (equal first-3-token bucket) and length-banded (±20%, a
    necessary condition: |len diff| lower-bounds edit distance), so
    the O(n·m) distance only runs on plausible pairs.

    All decisions are exact integers: the band and threshold tests
    cross-multiply int64 lengths, and levenshtein itself is an int —
    nothing float anywhere.

    100 TB shape: blocking is the whole game for quadratic string
    metrics — the bucket join bounds pair counts by block size
    (measured: 346 candidates from 12.5M possible pairs at sf0.1),
    and the length-band prunes before the expensive distance evaluates
    (Catalyst orders the cheap conjunct first). Finer blocks (more
    prefix tokens, sorted-neighborhood on length) are the scale knob.
    The distance itself uses the THRESHOLD form of levenshtein
    (Spark ≥3.5): the DP early-exits (returns -1) once the running
    distance exceeds the 10% band, turning the O(n·m) worst case into
    O(n·threshold) on every rejected pair — and rejected pairs dominate
    the survivors by orders of magnitude. The threshold test sits LAST
    in the join condition, spelled there directly: the old
    join→withColumn→filter form let Catalyst push the filter into the
    join condition PREPENDED, so the DP ran before the id-order/band
    guards on every hash-matched pair (incl. the 5 000 self-pairs) —
    measured warm 5.5-8.6 s vs 0.5-0.6 s with cheap conjuncts first
    (round 14; conjuncts short-circuit left-to-right in codegen)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.array_join(F.slice(tokens("text"), 1, 3), " ").alias("bucket"),
        F.length("text").cast("long").alias("n"),
    )
    a, b = d.alias("a"), d.alias("b")
    least_n = F.least(F.col("a.n"), F.col("b.n"))
    # dist*10 <= least_n  ⇔  dist <= floor(least_n/10): bound the DP at
    # the band and accept any non-(-1) result. Re-evaluating it in the
    # output projection costs one extra DP on each of the ~346
    # SURVIVING pairs only.
    bdist = F.expr(
        "levenshtein(a.text, b.text, CAST(least(a.n, b.n) DIV 10 AS INT))"
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n") - F.col("b.n")) * 5 <= least_n)
            & (bdist >= 0),
        )
        .withColumn("edit_dist", bdist.cast("long"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "edit_dist",
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
    )


# ---------------------------------------------------------------------------
# Quality: Gopher-style rule battery
# ---------------------------------------------------------------------------

# Rule bounds (adapted to the synthetic token-soup corpus; the shape —
# a battery of cheap integer-exact structural filters evaluated in one
# map-only pass — is the Gopher/MassiveText rule set, Rae et al. 2021).
# Bounds sit INSIDE the fixture's distributions (tokens 10-99, mean
# token length 3.7-5.3) so the count and mean-length rules genuinely
# reject a few percent of docs — with the old [5,1000]/[3,10] bands
# every doc passed every structural rule and the filter's rejecting
# arm was never validated. The symbol/alpha rules CANNOT fire on this
# punctuation-free fixture; their rejecting arm is pinned by the
# planted-row differential in tests/test_new_key_invariants.py.
GOPHER_MIN_TOKENS = 15
GOPHER_MAX_TOKENS = 1000
GOPHER_MIN_MEAN_LEN = 4    # mean token length bounds
GOPHER_MAX_MEAN_LEN = 10
GOPHER_MAX_SYMBOL_X10 = 1  # symbol-to-token ratio < 0.1  (10*sym < 1*tok)
GOPHER_MIN_ALPHA_X5 = 4    # >= 80% tokens contain a letter (5*alpha >= 4*tok)
GOPHER_MIN_STOPWORDS = 2   # at least 2 stopword hits

_GOPHER_STOP_SQL = "['the', 'a', 'and', 'order', 'table']"


def gopher_ok_flags() -> list:
    """The five Gopher structural-rule booleans over a ``text`` column
    (integer cross-multiplied comparisons — bit-identical cross-engine),
    shared by q_quality_gopher_rules and the streaming quality monitor
    (q_stream_quality_monitor)."""
    toks = tokens("text")
    stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_tok = F.size(toks)
    n_chars_ns = F.length(F.regexp_replace("text", " ", ""))
    n_sym = F.regexp_count("text", F.lit("[^a-z0-9 ]"))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    return [
        n_tok.between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS).alias("ok_count"),
        (
            (n_chars_ns >= GOPHER_MIN_MEAN_LEN * n_tok)
            & (n_chars_ns <= GOPHER_MAX_MEAN_LEN * n_tok)
        ).alias("ok_mean_len"),
        (10 * n_sym < n_tok).alias("ok_symbol"),
        (5 * n_alpha >= 4 * n_tok).alias("ok_alpha"),
        (n_stop >= GOPHER_MIN_STOPWORDS).alias("ok_stop"),
    ]


GOPHER_ALL_OK_EXPR = (
    "ok_count AND ok_mean_len AND ok_symbol AND ok_alpha AND ok_stop"
)


@query(
    "q_quality_gopher_rules",
    oracle=f"""
    WITH t AS (
        SELECT source,
               str_split(lower(text), ' ') AS toks,
               length(replace(text, ' ', '')) AS n_chars_ns,
               len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_sym
        FROM documents
    ), r AS (
        SELECT source,
               (len(toks) BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS})
                   AS ok_count,
               (n_chars_ns >= {GOPHER_MIN_MEAN_LEN} * len(toks)
                AND n_chars_ns <= {GOPHER_MAX_MEAN_LEN} * len(toks))
                   AS ok_mean_len,
               (10 * n_sym < len(toks)) AS ok_symbol,
               (5 * len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                >= 4 * len(toks)) AS ok_alpha,
               (len(list_filter(toks,
                    x -> list_contains({_GOPHER_STOP_SQL}, x)))
                >= {GOPHER_MIN_STOPWORDS}) AS ok_stop
        FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN ok_count AND ok_mean_len AND ok_symbol
                          AND ok_alpha AND ok_stop THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN NOT ok_count THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_count,
           CAST(SUM(CASE WHEN NOT ok_mean_len THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_mean_len,
           CAST(SUM(CASE WHEN NOT ok_symbol THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_symbol,
           CAST(SUM(CASE WHEN NOT ok_alpha THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_alpha,
           CAST(SUM(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_stop
    FROM r GROUP BY source
    """,
    tags=("llm", "text", "quality"),
)
def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style structural quality battery (Rae et al. 2021 §A1.1
    shape): token-count bounds, mean-token-length band, symbol-to-token
    ratio, alphabetic-token fraction, minimum stopword hits — evaluated
    per doc and rolled up to per-source pass/fail counts, one row per
    source with a per-rule failure breakdown (the report a curation run
    uses to tune thresholds before committing a filter pass).

    Every rule is an integer cross-multiplied comparison (no float
    ratios), so keep/drop decisions are bit-identical cross-engine.

    100 TB shape: rule evaluation is map-only whole-stage codegen over
    the documents scan (text never shuffles); the only exchange carries
    |sources| × 8 counters via partial aggregation."""
    d = load_table(spark, sf_dir, "documents")
    r = d.select("source", *gopher_ok_flags())
    fails = [
        F.sum(F.when(~F.col(c), 1).otherwise(0)).alias(a)
        for c, a in [
            ("ok_count", "fail_count"),
            ("ok_mean_len", "fail_mean_len"),
            ("ok_symbol", "fail_symbol"),
            ("ok_alpha", "fail_alpha"),
            ("ok_stop", "fail_stop"),
        ]
    ]
    all_ok = (
        F.col("ok_count")
        & F.col("ok_mean_len")
        & F.col("ok_symbol")
        & F.col("ok_alpha")
        & F.col("ok_stop")
    )
    return r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(all_ok, 1).otherwise(0)).alias("n_pass"),
        *fails,
    )


# ---------------------------------------------------------------------------
# Similarity: range search (all neighbors above a similarity floor)
# ---------------------------------------------------------------------------

# τ sits just above the fixture's p99 query-cosine (max ≈ 0.37/0.41 at
# sf0.01/sf0.1, p99 ≈ 0.29) so the radius selects a non-empty ~top-1%
# shell — a 0.6 floor matched NOTHING at any SF, trivially validating
# both engines on the empty set (the r8 json_regex lesson;
# tests/test_new_key_invariants.py pins n > 0).
RANGE_SEARCH_COS = 0.3


@query(
    "q_sim_range_search",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           round({duck_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
      AND round({duck_cosine('e.embedding', 'q.qv')}, 6) >= {RANGE_SEARCH_COS}
    ORDER BY cos_sim DESC, e.vec_id
    """,
    tags=("llm", "similarity"),
)
def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity RANGE query — every vector with cosine ≥ τ of the
    query vector (the dual of top-k: threshold instead of count; the
    primitive behind "find all near-duplicates of this document" and
    radius-bounded retrieval). The query vector broadcasts (1 row), the
    scan stays map-only, and only survivors reach the final sort — at
    100 TB this is a full scan but zero shuffle until the (tiny)
    result-ordering exchange. Threshold compares the 6-dp-rounded score
    (same value both engines) so the boundary set is deterministic."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    cos = F.round(cosine(F.col("embedding"), F.col("qv")), 6)
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select("vec_id", "label", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= RANGE_SEARCH_COS)
        .orderBy(F.col("cos_sim").desc(), "vec_id")
    )


# ---------------------------------------------------------------------------
# MinHash estimator-accuracy audit
# ---------------------------------------------------------------------------

# |est − exact| ≤ 0.35 per candidate pair (12 permutations ⇒ σ ≈ 0.14
# at J = 0.5; 0.35 ≈ 2.5σ). The bound check is itself part of the
# deterministic output — both engines compute the identical booleans.
MINHASH_EST_TOL_X100 = 35


def _minhash_est_oracle() -> str:
    match12 = " + ".join(
        f"(CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END)" for j in range(12)
    )
    return (
        _minhash_cte()
        + f"""
    , pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
        WHERE a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, {duck_shingles('t')} AS sh FROM toks)
    SELECT p.doc_a, p.doc_b,
           CAST({match12} AS BIGINT) AS match_x12,
           CAST(len(list_intersect(xa.sh, xb.sh)) AS BIGINT) AS jac_num,
           CAST(len(xa.sh) + len(xb.sh)
                - len(list_intersect(xa.sh, xb.sh)) AS BIGINT) AS jac_den,
           abs(({match12}) * jac_den * 100 - 1200 * jac_num)
               <= {MINHASH_EST_TOL_X100} * 12 * jac_den AS within_tol
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    JOIN sets xa ON xa.doc_id = p.doc_a
    JOIN sets xb ON xb.doc_id = p.doc_b
    """
    )


@query(
    "q_dedup_minhash_estimate",
    oracle=_minhash_est_oracle(),
    tags=("llm", "dedup", "contract"),
)
def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR audit: for every LSH candidate pair, the
    signature-agreement Jaccard estimate (matching permutations out of
    12) side-by-side with the exact shingle Jaccard, plus a
    |est − exact| ≤ 0.35 tolerance verdict — the calibration report
    that justifies trusting band collisions as a dedup signal (and the
    guard that catches a broken permutation family, which silently
    degrades LSH recall long before pair counts look wrong).

    All-integer output: match count ×12, exact Jaccard as num/den,
    tolerance via cross-multiplication — bit-identical cross-engine.

    100 TB shape: candidates come from the same band-bucket self-join
    as q_dedup_minhash (never all-pairs); signatures and shingle arrays
    are then re-derived ONLY for pair participants (a broadcast semi
    join prunes the corpus before any shingle work), so the audit costs
    O(candidates), not a second corpus-wide signature pass — measured
    8.5 s → ~2 s at sf0.1."""
    pairs = q_dedup_minhash(spark, sf_dir)
    participants = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    d = load_table(spark, sf_dir, "documents").join(
        F.broadcast(participants), "doc_id", "left_semi"
    )
    base = d.filter(F.size(tokens("text")) >= 3).select(
        "doc_id", shingles(tokens("text")).alias("sh")
    )
    hs = base.select(
        "doc_id", F.transform("sh", lambda s: hex_hash(s)).alias("hs"), "sh"
    )
    sig = hs.select(
        "doc_id",
        "sh",
        *[
            F.array_min(
                F.transform(F.col("hs"), lambda h: (F.lit(a) * h + F.lit(b)) % P)
            ).alias(f"m{j}")
            for j, (a, b) in enumerate(_SEEDS)
        ],
    ).persist()
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    match12 = sum(
        F.when(F.col(f"sa.m{j}") == F.col(f"sb.m{j}"), 1).otherwise(0)
        for j in range(12)
    )
    jac_num = F.size(F.array_intersect("sa.sh", "sb.sh")).cast("long")
    jac_den = (
        F.size("sa.sh") + F.size("sb.sh")
        - F.size(F.array_intersect("sa.sh", "sb.sh"))
    ).cast("long")
    return (
        pairs.join(sa, pairs.doc_a == F.col("sa.doc_id"))
        .join(sb, pairs.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            match12.cast("long").alias("match_x12"),
            jac_num.alias("jac_num"),
            jac_den.alias("jac_den"),
            (
                F.abs(
                    match12.cast("long") * jac_den * 100 - 1200 * jac_num
                )
                <= MINHASH_EST_TOL_X100 * 12 * jac_den
            ).alias("within_tol"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram LM scoring (conditional perplexity proxy)
# ---------------------------------------------------------------------------


@query(
    "q_text_bigram_lm",
    oracle="""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ),
    big AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bg
        FROM toks WHERE len(t) >= 2
    ),
    uni AS (
        SELECT doc_id, unnest(t) AS tok FROM toks
    ),
    c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c FROM big GROUP BY bg),
    c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok),
    scored AS (
        SELECT b.doc_id,
               CAST(length(printf('%b', c12.c))
                    - length(printf('%b', c1.c)) AS BIGINT) AS lp
        FROM big b
        JOIN c12 ON c12.bg = b.bg
        JOIN c1 ON c1.tok = str_split(b.bg, ' ')[1]
    )
    SELECT doc_id,
           CAST(SUM(lp) AS BIGINT) AS sum_log2p,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           SUM(lp) * 1.0 / COUNT(*) AS mean_log2p
    FROM scored GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model score — the conditional upgrade of
    q_text_logfreq_score: per bigram (w₁ w₂),
    ⌊log₂ c(w₁w₂)⌋ − ⌊log₂ c(w₁)⌋ ≈ log₂ P(w₂|w₁), summed per doc.
    Docs whose token TRANSITIONS are corpus-improbable (scrambled or
    boilerplate-spliced text) score low even when every individual
    token is common — the failure mode unigram scoring can't see.
    Both logs are integer-exact bit-lengths (conv-to-binary length,
    mirrored by DuckDB printf('%b')), so scores are int64 sums with
    one final division.

    100 TB shape: two corpus count tables (bigram, unigram), each one
    map-side-combined agg; scoring joins the bigram stream to both —
    Zipf head broadcasts under AQE, tail shuffles on the bigram key.
    Bigram generation is a per-row zip_with (ordered, NOT the distinct
    shingle set) — zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    n = F.size(t)
    bigrams = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    big = (
        d.filter(F.size(t) >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
    )
    uni = d.select("doc_id", F.explode(t).alias("tok"))
    c12 = big.groupBy("bg").agg(F.count("*").alias("c12"))
    c1 = uni.groupBy("tok").agg(F.count("*").alias("c1"))
    bitlen = lambda c: F.length(F.conv(c.cast("string"), 10, 2))  # noqa: E731
    scored = (
        big.join(c12, "bg")
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .join(c1, F.col("w1") == c1.tok)
        .select(
            "doc_id",
            (bitlen(F.col("c12")) - bitlen(F.col("c1")))
            .cast("long")
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("lp").alias("sum_log2p"),
        F.count("*").alias("n_bigrams"),
        (F.sum("lp") * 1.0 / F.count("*")).alias("mean_log2p"),
    )


PPL_HELDOUT_MOD = 5  # doc_id % 5 == 4 is the held-out slice


@query(
    "q_eval_perplexity_heldout",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, str_split(lower(text), ' ') AS t
        FROM documents
    ),
    big AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS bg
        FROM toks WHERE len(t) >= 2
    ),
    c12 AS (
        SELECT bg, CAST(COUNT(*) AS BIGINT) AS c FROM big
        WHERE doc_id % {PPL_HELDOUT_MOD} <> {PPL_HELDOUT_MOD - 1}
        GROUP BY bg
    ),
    c1 AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT doc_id, unnest(t) AS tok FROM toks
            WHERE doc_id % {PPL_HELDOUT_MOD} <> {PPL_HELDOUT_MOD - 1}
        ) GROUP BY tok
    ),
    held AS (
        SELECT b.source, b.bg,
               coalesce(c12.c, 0) AS c12c,
               coalesce(c1.c, 0) AS c1c
        FROM big b
        LEFT JOIN c12 ON c12.bg = b.bg
        LEFT JOIN c1 ON c1.tok = str_split(b.bg, ' ')[1]
        WHERE b.doc_id % {PPL_HELDOUT_MOD} = {PPL_HELDOUT_MOD - 1}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN c12c = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(CASE WHEN c12c = 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS oov_ppm,
           CAST(SUM(length(printf('%b', c1c + 1))
                    - length(printf('%b', c12c + 1))) AS BIGINT)
               AS nll_bits,
           CAST(SUM(length(printf('%b', c1c + 1))
                    - length(printf('%b', c12c + 1))) * 1000
                // COUNT(*) AS BIGINT) AS mean_nll_milli_bits
    FROM held GROUP BY source
    """,
    tags=("llm", "eval"),
)
def q_eval_perplexity_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT perplexity of the corpus bigram LM — the train/eval
    separation q_text_bigram_lm (in-corpus scoring) deliberately does
    not have, and the number that actually certifies an LM-based
    quality filter: counts come ONLY from the training slice
    (doc_id % 5 ≠ 4), scoring runs ONLY over the held-out slice, so
    memorized bigrams earn nothing. Per-token negative log-likelihood
    in the house integer form ⌊log₂(c₁+1)⌋ − ⌊log₂(c₁₂+1)⌋ (add-one
    smoothing makes unseen bigrams cost the full ⌊log₂(c₁+1)⌋ bits
    instead of diverging), rolled up per source with the OOV rate
    (held-out bigrams never seen in training, ppm) — rising OOV is
    the drift signal that retrains the filter. Laws (OOV ppm bounds,
    nll ≥ 0, per-source totals conserve) pinned in
    tests/test_new_key_invariants.py.

    100 TB shape: identical to the bigram-LM key — two Zipf-bounded
    map-side-combined count tables over the training slice, one join
    back on the held-out bigram stream (head broadcasts under AQE),
    one source-grain rollup; the slice predicates are scan filters."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    n = F.size(t)
    bigrams = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    big = (
        d.filter(F.size(t) >= 2)
        .select("doc_id", "source", F.explode(bigrams).alias("bg"))
    )
    train = F.col("doc_id") % PPL_HELDOUT_MOD != PPL_HELDOUT_MOD - 1
    c12 = (
        big.filter(train).groupBy("bg").agg(F.count("*").alias("c12"))
    )
    c1 = (
        d.filter(train)
        .select(F.explode(t).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c1"))
    )
    bitlen = lambda c: F.length(F.conv(c.cast("string"), 10, 2))  # noqa: E731
    held = (
        big.filter(~train)
        .join(c12, "bg", "left")
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .join(c1, F.col("w1") == c1.tok, "left")
        .select(
            "source",
            F.coalesce(F.col("c12"), F.lit(0)).alias("c12c"),
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1c"),
        )
    )
    nll = bitlen(F.col("c1c") + 1) - bitlen(F.col("c12c") + 1)
    return (
        held.groupBy("source")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.when(F.col("c12c") == 0, 1).otherwise(0)).alias(
                "n_oov"
            ),
            F.sum(nll).cast("long").alias("nll_bits"),
        )
        .select(
            "source",
            "n_bigrams",
            "n_oov",
            # integer div, never float-then-truncate: a double quotient
            # epsilon under the exact integer would round differently
            # than DuckDB's //
            F.expr("n_oov * 1000000 div n_bigrams").alias("oov_ppm"),
            "nll_bits",
            F.expr("nll_bits * 1000 div n_bigrams").alias(
                "mean_nll_milli_bits"
            ),
        )
    )


@query(
    "q_text_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(str_split_regex(lower(text), '')) AS c
        FROM documents
    ),
    cc AS (
        SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ch WHERE c <> '' GROUP BY doc_id, c
    ),
    agg AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS distinct_chars,
               CAST(SUM(cnt * length(printf('%b', cnt))) AS BIGINT)
                   AS sum_c_bits
        FROM cc GROUP BY doc_id
    )
    SELECT doc_id, n_chars, distinct_chars,
           CAST(n_chars * length(printf('%b', n_chars)) - sum_c_bits
                AS BIGINT) AS entropy_proxy_bits,
           CAST((n_chars * length(printf('%b', n_chars)) - sum_c_bits)
                * 1000 // n_chars AS BIGINT) AS entropy_milli_bits_per_char
    FROM agg
    """,
    tags=("llm", "text", "quality"),
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level ENTROPY proxy per document — the
    gibberish/keyboard-mash/base64-blob detector that token-level
    quality scores miss (a blob is one giant "token"; its CHARACTER
    distribution is what gives it away, unusually high for random
    bytes, unusually low for aaaa-runs): the integer form
    n·⌊log₂n⌋ − Σ_c cnt_c·⌊log₂cnt_c⌋ of the entropy sum n·H ≈
    n·log n − Σ c·log c, exact int64 bit-length arithmetic end to end
    (the q_text_bigram_lm house log), normalized to milli-bits per
    character. Zero for a single-repeated-character document,
    maximal for all-distinct characters — bounds pinned in
    tests/test_new_key_invariants.py.

    100 TB shape: counting is a (doc_id, char) hash agg whose partial
    (map-side) combine collapses every document to ≤|alphabet| rows
    before the exchange — shuffle volume is doc-grain × alphabet, not
    character-grain; the per-doc rollup is a second tiny agg on the
    same key prefix.

    Encoding note (ADVICE r12 investigated): Spark 4's
    ``F.split(text, '')`` splits per CODE POINT (an astral char like
    U+1F600 stays one element, ascii() = 128512), exactly like
    DuckDB's ``str_split_regex(text, '')`` — verified empirically and
    pinned beyond the ASCII fixture by
    test_char_entropy_split_code_point_parity, so the suspected
    UTF-16 surrogate mismatch does not exist on this engine pair."""
    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "")).alias("c"),
    ).filter(F.col("c") != "")
    cc = ch.groupBy("doc_id", "c").agg(F.count("*").alias("cnt"))
    bitlen = lambda c: F.length(F.conv(c.cast("string"), 10, 2))  # noqa: E731
    agg = cc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars"),
        F.count("*").alias("distinct_chars"),
        F.sum(F.col("cnt") * bitlen(F.col("cnt"))).alias("sum_c_bits"),
    )
    proxy = F.col("n_chars") * bitlen(F.col("n_chars")) - F.col("sum_c_bits")
    return agg.select(
        "doc_id",
        "n_chars",
        "distinct_chars",
        proxy.cast("long").alias("entropy_proxy_bits"),
        F.expr(
            "(n_chars * length(conv(cast(n_chars AS string), 10, 2))"
            " - sum_c_bits) * 1000 div n_chars"
        ).alias("entropy_milli_bits_per_char"),
    )


RHO_SEED_LANG = "en"  # the in-domain seed slice for contrastive selection
RHO_KEEP_DEN = 4  # keep the top 1/4 by contrast score


@query(
    "q_curate_rho_filter",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(str_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    c_in AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        WHERE lang = '{RHO_SEED_LANG}' GROUP BY tok
    ),
    c_gen AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(length(printf('%b', coalesce(i.c, 0) + 1))
                        - length(printf('%b', g.c + 1))) AS BIGINT)
                   AS delta_bits
        FROM toks t
        LEFT JOIN c_in i USING (tok)
        JOIN c_gen g USING (tok)
        GROUP BY t.doc_id
    ),
    ranked AS (
        SELECT s.doc_id, d.lang, s.n_tokens, s.delta_bits,
               CAST(s.delta_bits * 1000 // s.n_tokens AS BIGINT)
                   AS mean_delta_milli,
               ROW_NUMBER() OVER (
                   ORDER BY s.delta_bits * 1000 // s.n_tokens DESC,
                            s.doc_id) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_docs
        FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, n_tokens, delta_bits, mean_delta_milli,
           (rn - 1) * {RHO_KEEP_DEN} < n_docs AS kept
    FROM ranked
    """,
    tags=("llm", "curation"),
)
def q_curate_rho_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive (Moore–Lewis / rho) data selection — the two-LM
    upgrade of q_curate_dsir's importance weighting: every token is
    scored by ⌊log₂(c_in+1)⌋ − ⌊log₂(c_gen+1)⌋, the integer bit-length
    contrast between an IN-DOMAIN unigram LM (the lang-'en' seed
    slice, RHO_SEED_LANG) and the GENERAL corpus LM; a document's mean
    contrast says whether the target LM likes it more than the
    background LM — the classic cross-entropy-difference selection
    signal, here in the engine's exact-int64 house form (add-one
    smoothing on both sides, so unseen-in-seed tokens score the
    maximal penalty instead of diverging). Keeps the global top
    1/RHO_KEEP_DEN by milli-mean contrast (doc_id ties), the rho cut.
    Selection laws (kept count = ceil(n/4), kept set = top-ranked
    prefix, contrast ≤ 0 because the seed is a corpus subset) pinned
    in tests/test_new_key_invariants.py; note the fixture's five lang
    labels share ONE synthetic vocabulary (measured), so the
    machinery is exercised structurally — on a real corpus the seed
    slice's distinct distribution is what the contrast surfaces.

    100 TB shape: two map-side-combined token-count tables (seed and
    general — Zipf-bounded), one token-stream join back (head
    broadcasts under AQE, tail shuffles on tok), one doc-grain agg;
    the global rank is over doc-grain rows and at scale becomes the
    documented approximate-quantile threshold cut instead of a total
    order."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    c_in = (
        toks.filter(F.col("lang") == RHO_SEED_LANG)
        .groupBy("tok")
        .agg(F.count("*").alias("ci"))
    )
    c_gen = toks.groupBy("tok").agg(F.count("*").alias("cg"))
    bitlen = lambda c: F.length(F.conv(c.cast("string"), 10, 2))  # noqa: E731
    scored = (
        toks.join(c_in, "tok", "left")
        .join(c_gen, "tok")
        .select(
            "doc_id",
            (
                bitlen(F.coalesce(F.col("ci"), F.lit(0)) + 1)
                - bitlen(F.col("cg") + 1)
            )
            .cast("long")
            .alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lp").alias("delta_bits"),
        )
    )
    ranked = scored.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "n_tokens",
        "delta_bits",
        F.expr("delta_bits * 1000 div n_tokens").alias("mean_delta_milli"),
    )
    w = Window.orderBy(F.desc("mean_delta_milli"), "doc_id")
    wall = Window.partitionBy()
    return ranked.select(
        "doc_id",
        "lang",
        "n_tokens",
        "delta_bits",
        "mean_delta_milli",
        (
            (F.row_number().over(w) - 1) * RHO_KEEP_DEN
            < F.count("*").over(wall)
        ).alias("kept"),
    )


@query(
    "q_dedup_cross_source",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, source, sha256(text) AS h FROM documents
    ),
    spans AS (
        SELECT h, CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               MIN(doc_id) AS keeper_doc,
               string_agg(DISTINCT source, ',' ORDER BY source)
                   AS sources
        FROM hashed GROUP BY h
    )
    SELECT h AS content_sha, n_copies, n_sources, keeper_doc, sources
    FROM spans WHERE n_sources > 1
    """,
    tags=("llm", "dedup", "curation"),
)
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-source exact duplicates — the mixing-hygiene drill-down of
    q_source_overlap_jaccard: content hashes that appear under MORE
    THAN ONE source label, with copy count, source span, keeper
    election, and the sorted source list.  Same-source dupes are
    ordinary dedup (q_dedup_exact); cross-source dupes mean the
    mixture weights double-count the content under two names — the
    rows this emits are exactly the ones to collapse before
    q_curate_mix_weights / q_curate_epoch_plan run.

    100 TB shape: one sha256 at scan time (content never shuffles —
    only the 32-byte hash + source), one hash-grain agg with a
    distinct-source count folded in; output is only the offending
    hashes."""
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", "source", F.sha2(F.col("text"), 256).alias("h")
    )
    g = hashed.groupBy("h").agg(
        F.count("*").alias("n_copies"),
        F.count_distinct("source").alias("n_sources"),
        F.min("doc_id").alias("keeper_doc"),
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
            "sources"
        ),
    )
    return g.filter(F.col("n_sources") > 1).select(
        F.col("h").alias("content_sha"),
        "n_copies",
        "n_sources",
        "keeper_doc",
        "sources",
    )


@query(
    "q_source_overlap_jaccard",
    oracle=f"""
    WITH ss AS (
        SELECT DISTINCT source, sh FROM (
            SELECT source,
                   unnest({duck_shingles("str_split(lower(text), ' ')")})
                       AS sh
            FROM documents
        )
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
        FROM ss GROUP BY source
    ),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM ss a JOIN ss b
          ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, sa.n_sh AS n_a, sb.n_sh AS n_b, i.n_inter,
           CAST(i.n_inter * 1000000
                // (sa.n_sh + sb.n_sh - i.n_inter) AS BIGINT)
               AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
    tags=("llm", "curation", "dedup"),
)
def q_source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-SOURCE overlap matrix — the mixture-planning counterpart
    of document-level dedup: exact shingle-set Jaccard between every
    pair of sources that share at least one shingle.  Two sources with
    high overlap double-count the same content in the training mix
    (q_curate_mix_weights / q_curate_epoch_plan would overweight it);
    this matrix is the input to collapsing or down-weighting them.

    100 TB shape — SOURCE-BITMASK rollup, not a pairwise join: with
    k ≤ 63 sources, each shingle folds to ONE row carrying the bit_or
    of its sources' bits (map-side-combinable — the shingle shuffle
    carries one int64 per shingle instead of k² join rows), then the
    |distinct masks| × C(k,2) cross of two TINY frames reads every
    pairwise intersection and every per-source size off the mask
    counts.  A shingle shared by all k sources costs 1 aggregated row
    instead of C(k,2) join outputs — measured 9.1 s → ~2 s at sf0.1.
    For k > 63, shard sources into 63-wide mask groups and union.
    The DuckDB oracle keeps the naive pairwise self-join, so the hash
    match proves the bitmask algebra equals brute force."""
    d = load_table(spark, sf_dir, "documents")
    # NOT checkpointed (round 15, measured and left): this ≤63-row
    # source↔bit table feeds four subtrees, so the plan re-derives the
    # scan+distinct 4× — but both eager (median 1.7 → 2.8 s warm) and
    # lazy (→ ~2.2 s) localCheckpoints measured SLOWER than the
    # redundant derivations: the subtrees are column-pruned projections
    # that run in parallel inside the one job, while a checkpoint adds
    # a barrier/RDD boundary every consumer waits on. Same family of
    # negative result as the r15 LocalRelation trainer experiment.
    srcs = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (F.row_number().over(Window.orderBy("source")) - 1).alias("idx"),
        )
    )
    raw = d.select(
        "source", F.explode(shingles(tokens("text"))).alias("sh")
    )
    masks = (
        raw.join(F.broadcast(srcs), "source")
        .groupBy("sh")
        .agg(F.bit_or(F.expr("shiftleft(1L, idx)")).alias("mask"))
        .groupBy("mask")
        .agg(F.count("*").alias("cnt"))
    )
    # Persist: both the intersection and the per-source size branches
    # read this |distinct masks|-row frame — without it each branch
    # re-runs the whole shingle pipeline.
    masks = masks.persist()
    a = srcs.select(F.col("source").alias("src_a"), F.col("idx").alias("ia"))
    b = srcs.select(F.col("source").alias("src_b"), F.col("idx").alias("ib"))
    pairs = a.join(b, F.col("src_a") < F.col("src_b"))
    inter = (
        masks.crossJoin(F.broadcast(pairs))
        .filter(
            F.expr("(mask & shiftleft(1L, ia)) != 0")
            & F.expr("(mask & shiftleft(1L, ib)) != 0")
        )
        .groupBy("src_a", "src_b")
        .agg(F.sum("cnt").alias("n_inter"))
    )
    sizes = (
        masks.crossJoin(F.broadcast(srcs))
        .filter(F.expr("(mask & shiftleft(1L, idx)) != 0"))
        .groupBy("source")
        .agg(F.sum("cnt").alias("n_sh"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_inter",
            F.expr("n_inter * 1000000 div (n_a + n_b - n_inter)").alias(
                "jaccard_ppm"
            ),
        )
    )


# Multi-epoch plan: total token budget = 2× corpus, per-source repeat
# capped at 4 epochs (the data-constrained scaling ceiling beyond which
# repeated tokens stop helping).
EPOCH_BUDGET_X1000 = 2000
EPOCH_CAP_X1000 = 4000


@query(
    "q_curate_epoch_plan",
    oracle=f"""
    WITH st AS (
        SELECT source,
               CAST(SUM(len(str_split(lower(text), ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM st
    ),
    plan AS (
        SELECT s.source, s.n_tokens,
               CAST(t.total * {EPOCH_BUDGET_X1000} // 1000 // t.n_sources
                    AS BIGINT) AS share_tokens,
               CAST(LEAST({EPOCH_CAP_X1000},
                          (t.total * {EPOCH_BUDGET_X1000} // 1000
                           // t.n_sources) * 1000 // s.n_tokens)
                    AS BIGINT) AS epochs_x1000
        FROM st s CROSS JOIN tot t
    )
    SELECT source, n_tokens, share_tokens, epochs_x1000,
           CAST(n_tokens * epochs_x1000 // 1000 AS BIGINT)
               AS planned_tokens,
           epochs_x1000 = {EPOCH_CAP_X1000} AS capped,
           CAST(share_tokens - n_tokens * epochs_x1000 // 1000 AS BIGINT)
               AS shortfall_tokens
    FROM plan
    """,
    tags=("llm", "curation"),
)
def q_curate_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch training-data plan (the data-constrained scaling
    recipe): give every source an equal share of a 2×-corpus token
    budget, convert the share to a repeat factor, and CAP it at 4
    epochs — the point where repeating data stops buying loss.  Small
    sources hit the cap (their shortfall is surfaced in exact tokens —
    the mass a second planning round redistributes); large sources
    repeat fractionally.  Complements q_curate_mix_weights (single-
    epoch reweighting) and q_curate_token_budget (greedy fill): this is
    the epoch dimension.  All integer arithmetic — ×1000 fixed-point
    epochs, floor division in both engines.

    100 TB shape: one map-side-combined token count per source + a
    1-row totals broadcast; the plan itself is |sources| rows — the
    executor applying it re-reads each source epochs_x1000/1000 times
    (floor) plus one hash-sampled partial pass, never shuffling the
    corpus."""
    d = load_table(spark, sf_dir, "documents")
    st = d.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).alias("n_tokens")
    )
    tot = st.agg(
        F.sum("n_tokens").alias("total"), F.count("*").alias("n_sources")
    )
    plan = st.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(f"total * {EPOCH_BUDGET_X1000} div 1000 div n_sources").alias(
            "share_tokens"
        ),
    ).select(
        "source",
        "n_tokens",
        "share_tokens",
        F.least(
            F.lit(EPOCH_CAP_X1000),
            F.expr("share_tokens * 1000 div n_tokens"),
        ).alias("epochs_x1000"),
    )
    return plan.select(
        "source",
        "n_tokens",
        "share_tokens",
        "epochs_x1000",
        F.expr("n_tokens * epochs_x1000 div 1000").alias("planned_tokens"),
        (F.col("epochs_x1000") == EPOCH_CAP_X1000).alias("capped"),
        F.expr("share_tokens - n_tokens * epochs_x1000 div 1000").alias(
            "shortfall_tokens"
        ),
    )


@query(
    "q_text_zipf_fit",
    oracle="""
    WITH uni AS (
        SELECT unnest(str_split(lower(text), ' ')) AS tok FROM documents
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok
    ),
    xy AS (
        SELECT CAST(length(printf('%b',
                   ROW_NUMBER() OVER (ORDER BY c DESC, tok))) AS BIGINT)
                   AS x,
               CAST(length(printf('%b', c)) AS BIGINT) AS y
        FROM freq
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM xy
    )
    SELECT n AS n_vocab,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS varx_num,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / (n * sxx - sx * sx) AS zipf_slope
    FROM s
    """,
    tags=("llm", "text"),
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit — the corpus-naturalness screen: regress
    ⌊log₂ frequency⌋ on ⌊log₂ rank⌋ over the whole vocabulary; natural
    language lands near slope −1, while template-flooded or synthetic
    corpora flatten or step.  Both logs are exact integer bit-lengths
    (the q_text_bigram_lm trick — conv-to-binary length, DuckDB
    printf('%b')), so the OLS co-moments are exact int64 and the single
    final ratio is the only double — bit-identical cross-engine.

    100 TB shape: one map-side-combined token count, ONE vocab-sized
    rank sort (range-partitioned — vocabulary is millions of rows, not
    corpus-scale), then a 1-row co-moment agg.  The corpus itself is
    touched exactly once."""
    d = load_table(spark, sf_dir, "documents")
    uni = d.select(F.explode(tokens("text")).alias("tok"))
    freq = uni.groupBy("tok").agg(F.count("*").alias("c"))
    bitlen = lambda c: F.length(F.conv(c.cast("string"), 10, 2))  # noqa: E731
    xy = freq.select(
        bitlen(
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "tok"))
            .cast("long")
        )
        .cast("long")
        .alias("x"),
        bitlen(F.col("c")).cast("long").alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").alias("n_vocab"),
        cov.alias("cov_num"),
        varx.alias("varx_num"),
        (cov.cast("double") / varx).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Embedding-QA: norm-outlier audit
# ---------------------------------------------------------------------------

NORM_OUTLIER_Z2 = 9  # flag |z| > 3, tested as z² > 9 in exact integers


@query(
    "q_embed_norm_outliers",
    oracle=f"""
    WITH q0 AS (
        SELECT vec_id, CAST(label AS INTEGER) AS label,
               CAST(FLOOR({duck_dot('embedding', 'embedding')} * 1000)
                    AS BIGINT) AS qn
        FROM embeddings
    ),
    q AS (
        SELECT 'observed' AS series, label, qn FROM q0
        UNION ALL
        SELECT 'exploded_sim' AS series, label,
               CASE WHEN vec_id % 97 = 0 THEN qn * 4 ELSE qn END AS qn
        FROM q0
    ),
    s AS (
        SELECT series, label, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(qn) AS BIGINT) AS s_qn,
               CAST(SUM(qn * qn) AS BIGINT) AS q_qn
        FROM q GROUP BY series, label
    )
    SELECT s.series, s.label, s.n, s.s_qn,
           CAST(SUM(CASE WHEN (s.n * q.qn - s.s_qn)
                              * (s.n * q.qn - s.s_qn)
                              > {NORM_OUTLIER_Z2}
                                * (s.n * s.q_qn - s.s_qn * s.s_qn)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM q JOIN s USING (series, label)
    GROUP BY s.series, s.label, s.n, s.s_qn
    """,
    tags=("llm", "embedding", "dq"),
)
def q_embed_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-QA norm audit: per cluster label, how many vectors'
    squared norms sit more than 3σ from the label mean — the cheap
    screen for dead (≈0-norm) and exploded vectors that poison cosine
    ANN indexes and centroid training, run before any index build.

    The z-test is EXACT integer arithmetic end-to-end: squared norms
    milli-quantized (FLOOR(‖e‖²·1000), the q_embed_centroid trick),
    then (n·qn − S)² > 9·(n·Q − S²) by cross-multiplication — no
    float mean/std whose last bit could differ cross-engine.

    100 TB shape: one map pass computes qn per vector (fold, no
    shuffle); label stats are a tiny agg joined back broadcast; the
    flag pass is map-side again — two scans, zero fact-scale
    shuffles."""
    e = load_table(spark, sf_dir, "embeddings")
    q0 = e.select(
        "vec_id",
        "label",
        F.floor(dot("embedding", "embedding") * 1000)
        .cast("long")
        .alias("qn"),
    )
    # Two series through the SAME detector (the q_dq_volume_anomaly
    # pattern): the observed norms — which the fixture keeps within
    # ~1.5 sigma^2 of their label mean at every SF, so the clean arm
    # pins zero false positives — and a deterministic simulation where
    # every 97th vector's squared norm is exploded 4x (the dead/blown
    # vector fault this audit screens for), validating the firing arm
    # cross-engine.
    q = q0.select(
        F.lit("observed").alias("series"), "label", "qn"
    ).unionByName(
        q0.select(
            F.lit("exploded_sim").alias("series"),
            "label",
            F.when(F.col("vec_id") % 97 == 0, F.col("qn") * 4)
            .otherwise(F.col("qn"))
            .alias("qn"),
        )
    )
    s = q.groupBy("series", "label").agg(
        F.count("*").alias("n"),
        F.sum("qn").alias("s_qn"),
        F.sum(F.col("qn") * F.col("qn")).alias("q_qn"),
    )
    j = q.join(F.broadcast(s), ["series", "label"])
    dev = F.col("n") * F.col("qn") - F.col("s_qn")
    is_out = dev * dev > NORM_OUTLIER_Z2 * (
        F.col("n") * F.col("q_qn") - F.col("s_qn") * F.col("s_qn")
    )
    return j.groupBy("series", "label", "n", "s_qn").agg(
        F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers")
    )


# ---------------------------------------------------------------------------
# Embedding-QA: per-dimension variance (dead-dimension audit)
# ---------------------------------------------------------------------------

DIM_DEAD_VAR_MICRO = 10_000  # flag dims with variance < 0.01 (micro units)


@query(
    "q_embed_dim_variance",
    oracle=f"""
    WITH p0 AS (
        SELECT generate_subscripts(embedding, 1) AS pos,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000)
                    AS BIGINT) AS qv
        FROM embeddings
    ),
    p AS (
        SELECT 'observed' AS series, pos, qv FROM p0
        UNION ALL
        SELECT 'zeropad_sim' AS series, pos,
               CASE WHEN pos = 64 THEN 0 ELSE qv END AS qv
        FROM p0
    ),
    s AS (
        SELECT series, pos, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(qv) AS BIGINT) AS s1,
               CAST(SUM(qv * qv) AS BIGINT) AS s2
        FROM p GROUP BY series, pos
    )
    SELECT series, CAST(pos AS INTEGER) AS pos, n,
           CAST((n * s2 - s1 * s1) // (n * n) AS BIGINT) AS var_micro,
           (n * s2 - s1 * s1) // (n * n) < {DIM_DEAD_VAR_MICRO}
               AS is_dead
    FROM s
    """,
    tags=("llm", "embedding", "dq"),
)
def q_embed_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-QA per-DIMENSION variance audit: milli-quantized
    variance of every embedding coordinate across the corpus, flagging
    near-constant ("dead") dimensions — the complement of the per-
    vector norm audit (q_embed_norm_outliers). Dead dims waste index
    space and shrink effective dimensionality (a truncated-training or
    zero-padded-export bug shows up here first, before recall drops).
    Variance is the exact integer (n·Σx² − (Σx)²) / n² in milli-unit²
    (micro) — floor division, engine-identical.

    100 TB shape: posexplode is the one fan-out (rows × dims), feeding
    a map-side-combined agg to |dims| rows — the same shape as
    q_embed_centroid; nothing else shuffles."""
    e = load_table(spark, sf_dir, "embeddings")
    p0 = e.select(
        F.posexplode("embedding").alias("pos0", "v")
    ).select(
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("v").cast("double") * 1000).cast("long").alias("qv"),
    )
    # Observed dims (all live on this fixture — clean arm) + a
    # deterministic zero-padded-export simulation (dim 64 zeroed) so
    # the dead-dimension flag's firing arm is validated cross-engine.
    p = p0.select(
        F.lit("observed").alias("series"), "pos", "qv"
    ).unionByName(
        p0.select(
            F.lit("zeropad_sim").alias("series"),
            "pos",
            F.when(F.col("pos") == 64, F.lit(0).cast("long"))
            .otherwise(F.col("qv"))
            .alias("qv"),
        )
    )
    s = p.groupBy("series", "pos").agg(
        F.count("*").alias("n"),
        F.sum("qv").alias("s1"),
        F.sum(F.col("qv") * F.col("qv")).alias("s2"),
    )
    var_micro = F.expr("(n * s2 - s1 * s1) div (n * n)")
    return s.select(
        "series",
        F.col("pos").cast("int").alias("pos"),
        "n",
        var_micro.alias("var_micro"),
        (var_micro < DIM_DEAD_VAR_MICRO).alias("is_dead"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty (within-corpus memorization signal)
# ---------------------------------------------------------------------------


@query(
    "q_text_ngram_novelty",
    oracle="""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
               ))) AS s
        FROM toks WHERE len(t) >= 3
    ),
    df AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS docs FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST(SUM(CASE WHEN df.docs = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM sh JOIN df ON df.s = sh.s
    GROUP BY sh.doc_id
    """,
    tags=("llm", "text", "dedup"),
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus 3-gram NOVELTY per doc: the fraction of a doc's
    distinct shingles that appear in NO other document — the
    memorization/boilerplate axis (novelty ≈ 0 means the doc is
    assembled from corpus-common phrasing: template spam or a near-dup
    that slipped every pair-based dedup; novelty ≈ 1 means unique
    content). The inverse view of q_contamination_ngram, turned inward
    and made per-document.

    100 TB shape: shingle document-frequency is one map-side-combined
    agg; scoring joins the per-doc shingle stream back to it (Zipf
    head broadcasts under AQE). Shingles live once in the df table —
    the same shared-frame economics as the dedup family."""
    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.filter(F.size(tokens("text")) >= 3)
        .select("doc_id", F.explode(shingles(tokens("text"))).alias("s"))
    )
    df_tbl = sh.groupBy("s").agg(F.count("*").alias("docs"))
    novel = F.when(F.col("docs") == 1, 1).otherwise(0)
    return (
        sh.join(df_tbl, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.expr(
                "sum(case when docs = 1 then 1 else 0 end) * 1000000 "
                "div count(*)"
            ).alias("novelty_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# 2-D grid proximity join (spatial-join pattern)
# ---------------------------------------------------------------------------

GRID_EPS_MILLI = 50  # ε = 0.05 in milli-quantized units; cell width = ε


@query(
    "q_sim_grid_join_2d",
    oracle=f"""
    WITH p AS (
        SELECT vec_id,
               CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
                   AS x,
               CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)
                   AS y
        FROM embeddings
    )
    SELECT a.vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors
    FROM p a JOIN p b
      ON b.vec_id <> a.vec_id
     AND abs(a.x - b.x) <= {GRID_EPS_MILLI}
     AND abs(a.y - b.y) <= {GRID_EPS_MILLI}
    GROUP BY a.vec_id
    """,
    tags=("llm", "similarity", "spatial"),
)
def q_sim_grid_join_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D GRID proximity join — the spatial-join pattern on the first
    two embedding coordinates: neighbors within an ε-box, found by
    quantizing the plane into ε-wide grid cells, exploding the probe
    side to its 3×3 neighbor cells, equi-joining on cell id, and
    applying the exact box as a post-join filter. Each candidate pair
    is generated exactly once (the build point's own cell is unique).
    This is how every distributed spatial engine (and DBSCAN's
    neighbor search) avoids the O(n²) distance join; the 1-D version
    is q_join_range_bucketed. Output: per-point neighbor count (the
    DBSCAN core-point signal).

    100 TB shape: shuffles on the (cx, cy) cell key — high-cardinality
    and AQE-splittable where density clusters; probe fan-out is a
    constant 9. Coordinates are milli-quantized integers end-to-end,
    so cell assignment and the box test are engine-exact."""
    e = load_table(spark, sf_dir, "embeddings")
    p = e.select(
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 1000)
        .cast("long")
        .alias("x"),
        F.floor(F.element_at("embedding", 2).cast("double") * 1000)
        .cast("long")
        .alias("y"),
    )
    eps = GRID_EPS_MILLI
    cell = lambda c: F.expr(f"{c} div {eps}")  # noqa: E731
    probe = p.select(
        F.col("vec_id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cell("x") + dx).alias("cx"),
                        (cell("y") + dy).alias("cy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("c"),
    ).select("a_id", "ax", "ay", "c.cx", "c.cy")
    build = p.select(
        F.col("vec_id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        cell("x").alias("cx"),
        cell("y").alias("cy"),
    )
    return (
        probe.join(build, ["cx", "cy"])
        .filter(
            (F.col("b_id") != F.col("a_id"))
            & (F.abs(F.col("ax") - F.col("bx")) <= eps)
            & (F.abs(F.col("ay") - F.col("by")) <= eps)
        )
        .groupBy(F.col("a_id").alias("vec_id"))
        .agg(F.count("*").alias("n_neighbors"))
    )


# ---------------------------------------------------------------------------
# DBSCAN (grid neighbors → core points → star-CC clusters → borders)
# ---------------------------------------------------------------------------

DBSCAN_EPS_MILLI = 25
DBSCAN_MINPTS = 4
# Capacity-law scale branch (closes the round-5 watch item: fixed
# ε-wide cells let per-cell occupancy grow with density — ×15.9 at the
# 64× probe): when the corpus holds a vec_id divisible by
# DBSCAN_SCALE_MOD (existence probe, metadata grain), the grid refines
# to ⌈ε/2⌉-wide cells with a 5×5 probe fan-out — per-cell occupancy
# drops ~4× (the skew/task-size bound) and the candidate box tightens
# (65² vs 75² area) while the EXACT ε-box post-filter keeps the result
# bit-identical; the invariance law binds the branch in
# tests/test_scale_shape.py.
DBSCAN_SCALE_MOD = 8192
DBSCAN_SCALE_WIDTH = (DBSCAN_EPS_MILLI + 1) // 2


@query(
    "q_dbscan_clusters",
    oracle=f"""
    WITH RECURSIVE p AS (
        SELECT vec_id,
               CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
                   AS x,
               CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)
                   AS y
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM p a JOIN p b
          ON a.vec_id < b.vec_id
         AND abs(a.x - b.x) <= {DBSCAN_EPS_MILLI}
         AND abs(a.y - b.y) <= {DBSCAN_EPS_MILLI}
    ),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT va AS v FROM pairs UNION ALL SELECT vb FROM pairs
        ) GROUP BY v
    ),
    core AS (SELECT v FROM deg WHERE n >= {DBSCAN_MINPTS}),
    ce AS (
        SELECT va, vb FROM pairs
        WHERE va IN (SELECT v FROM core) AND vb IN (SELECT v FROM core)
    ),
    edges AS (SELECT va AS src, vb AS dst FROM ce
              UNION SELECT vb, va FROM ce),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    linked AS (
        SELECT src AS v, LEAST(src, MIN(dst)) AS cid
        FROM reach GROUP BY src
    ),
    members AS (
        SELECT v, cid FROM linked
        UNION ALL
        SELECT v, v AS cid FROM core
        WHERE v NOT IN (SELECT v FROM linked)
    ),
    border_cand AS (
        SELECT pr.va AS nc, m.cid FROM pairs pr
        JOIN members m ON m.v = pr.vb
        WHERE pr.va NOT IN (SELECT v FROM core)
        UNION ALL
        SELECT pr.vb AS nc, m.cid FROM pairs pr
        JOIN members m ON m.v = pr.va
        WHERE pr.vb NOT IN (SELECT v FROM core)
    ),
    border AS (
        SELECT nc, MIN(cid) AS cid FROM border_cand GROUP BY nc
    )
    SELECT m.cid AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_core,
           CAST(COALESCE(MAX(b.n_border), 0) AS BIGINT) AS n_border
    FROM members m
    LEFT JOIN (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_border
        FROM border GROUP BY cid
    ) b ON b.cid = m.cid
    GROUP BY m.cid, b.n_border
    """,
    tags=("llm", "similarity", "clustering", "iterative"),
)
def q_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering over the 2-D embedding projection,
    composed ENTIRELY from this engine's proven scale pieces: ε-grid
    cell join for neighbor counts (the q_sim_grid_join_2d pattern) →
    core points (≥ {DBSCAN_MINPTS} neighbors) → connected components
    over core-core ε-edges via the diameter-independent large-star/
    small-star loop (star_components_from_edges) → border points
    assigned to their MIN core-neighbor's cluster (deterministic, where
    textbook DBSCAN says "arbitrary"). Output: one row per cluster
    with core and border counts.

    100 TB shape: every stage is a bucketed equi-join or hash agg —
    neighbor search never goes O(n²), and the component loop converges
    in O(log n) rounds regardless of cluster diameter (density-chained
    clusters are exactly the long-diameter case label propagation
    loses). The DuckDB oracle is the quadratic recursive closure —
    viable only at test SF, which is precisely why the engine side
    iterates. Isolated cores (no core neighbor) form singleton
    clusters on both sides.

    Density dial (round-5 watch, closed): cell width is ε below the
    ``DBSCAN_SCALE_MOD`` existence gate and ⌈ε/2⌉ with a 5×5 fan-out
    above it — the refinement changes CANDIDATE generation only (the
    exact ε-box post-filter is unchanged), so the clustering is
    bit-identical across the branch; per-cell occupancy (the skew /
    max-task bound) drops ~4× each time density demands another
    halving. Invariance law in tests/test_scale_shape.py."""
    e = load_table(spark, sf_dir, "embeddings")
    p = e.select(
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 1000)
        .cast("long")
        .alias("x"),
        F.floor(F.element_at("embedding", 2).cast("double") * 1000)
        .cast("long")
        .alias("y"),
    )
    eps = DBSCAN_EPS_MILLI
    big = (
        e.filter(
            (F.col("vec_id") % DBSCAN_SCALE_MOD == 0)
            & (F.col("vec_id") != 0)
        )
        .limit(1)
        .count()
        > 0
    )
    width = DBSCAN_SCALE_WIDTH if big else eps
    rad = 2 if big else 1
    cell = lambda c: F.expr(f"{c} div {width}")  # noqa: E731
    probe = p.select(
        F.col("vec_id").alias("va"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cell("x") + dx).alias("cx"),
                        (cell("y") + dy).alias("cy"),
                    )
                    for dx in range(-rad, rad + 1)
                    for dy in range(-rad, rad + 1)
                ]
            )
        ).alias("c"),
    ).select("va", "ax", "ay", "c.cx", "c.cy")
    build = p.select(
        F.col("vec_id").alias("vb"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        cell("x").alias("cx"),
        cell("y").alias("cy"),
    )
    pairs = (
        probe.join(build, ["cx", "cy"])
        .filter(
            (F.col("va") < F.col("vb"))
            & (F.abs(F.col("ax") - F.col("bx")) <= eps)
            & (F.abs(F.col("ay") - F.col("by")) <= eps)
        )
        .select("va", "vb")
        .localCheckpoint()
    )
    deg = (
        pairs.select(F.col("va").alias("v"))
        .unionAll(pairs.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("n"))
    )
    core = deg.filter(F.col("n") >= DBSCAN_MINPTS).select("v").localCheckpoint()
    ce = (
        pairs.join(core.withColumnRenamed("v", "va"), "va", "left_semi")
        .join(core.withColumnRenamed("v", "vb"), "vb", "left_semi")
        .select("va", "vb")
    )
    labels, _ = star_components_from_edges(
        ce.selectExpr("va AS a", "vb AS b")
    )
    linked = labels.select(
        F.col("doc_id").alias("v"), F.col("label").alias("cid")
    )
    members = linked.unionByName(
        core.join(linked, core.v == linked.v, "left_anti").select(
            F.col("v"), F.col("v").alias("cid")
        )
    ).localCheckpoint()
    # Border: non-core point with >= 1 core neighbor, assigned to the
    # MIN neighboring cluster id (deterministic).
    bc1 = (
        pairs.join(members.withColumnRenamed("v", "vb"), "vb")
        .join(core.withColumnRenamed("v", "va"), "va", "left_anti")
        .select(F.col("va").alias("nc"), "cid")
    )
    bc2 = (
        pairs.join(members.withColumnRenamed("v", "va"), "va")
        .join(core.withColumnRenamed("v", "vb"), "vb", "left_anti")
        .select(F.col("vb").alias("nc"), "cid")
    )
    border = (
        bc1.unionByName(bc2).groupBy("nc").agg(F.min("cid").alias("cid"))
    )
    n_border = border.groupBy("cid").agg(F.count("*").alias("n_border"))
    return (
        members.groupBy(F.col("cid").alias("cluster_id"))
        .agg(F.count("*").alias("n_core"))
        .join(
            n_border.withColumnRenamed("cid", "cluster_id"),
            "cluster_id",
            "left",
        )
        .select(
            "cluster_id",
            "n_core",
            F.coalesce("n_border", F.lit(0)).alias("n_border"),
        )
    )


# Boilerplate screen: a normalized sentence must recur in this many
# distinct documents before it is flagged.
BOILERPLATE_MIN_DOCS = 3
BOILERPLATE_MIN_CHARS = 20
BOILERPLATE_LINE_TOKENS = 5  # fixture has no punctuation: fixed token rows


@query(
    "q_text_boilerplate_lines",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ),
    lines AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, CAST(len(t) // {BOILERPLATE_LINE_TOKENS} AS INT)),
                   i -> array_to_string(
                       t[i * {BOILERPLATE_LINE_TOKENS} + 1
                         : i * {BOILERPLATE_LINE_TOKENS}
                           + {BOILERPLATE_LINE_TOKENS}], ' '))) AS sent
        FROM s WHERE len(t) >= {BOILERPLATE_LINE_TOKENS}
    ),
    f AS (
        SELECT DISTINCT doc_id, sent FROM lines
        WHERE length(sent) >= {BOILERPLATE_MIN_CHARS}
    )
    SELECT sent,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM f GROUP BY sent
    HAVING COUNT(*) >= {BOILERPLATE_MIN_DOCS}
    """,
    tags=("llm", "text"),
)
def q_text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection: "lines" (normalized,
    ≥20 chars) that recur in ≥3 distinct documents — the repeated
    header/footer/cookie-banner screen every web-corpus pipeline
    (C4, RefinedWeb) runs before training, at line grain rather
    than document grain so partial-page duplication is visible.
    The fixture corpus carries no sentence punctuation, so line grain
    here = consecutive NON-overlapping {BOILERPLATE_LINE_TOKENS}-token
    rows (15 recurring lines at sf0.01 / 99 at sf0.1 — a non-empty,
    discriminating set at both SFs; overlapping shingle grain is the
    separate q_dedup_spans family).

    100 TB shape: line chunking is a map; the per-doc DISTINCT and
    the recurrence count hash on the line string — one shuffle
    whose width is |distinct lines|, with map-side combine eating
    the heavy hitters (exactly the rows we are hunting). The HAVING
    prunes the long tail before any further join; feeding the flagged
    set back as a broadcast anti-join filter is the removal step
    (q_contamination_ngram pattern)."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    k = BOILERPLATE_LINE_TOKENS
    line_arr = F.transform(
        F.sequence(F.lit(0), (F.size(t) / k).cast("int") - 1),
        lambda i: F.concat_ws(
            " ", F.slice(t, i * k + 1, k)
        ),
    )
    f = (
        d.filter(F.size(t) >= k)
        .select("doc_id", F.explode(line_arr).alias("sent"))
        .filter(F.length("sent") >= BOILERPLATE_MIN_CHARS)
        .distinct()
    )
    return (
        f.groupBy("sent")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
    )


@query(
    "q_bpe_merge_round",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, str_split(lower(text), ' ') AS t
        FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS pair
        FROM toks WHERE len(t) >= 2
    ),
    best AS (
        SELECT pair, COUNT(*) AS n FROM pairs
        WHERE str_split(pair, ' ')[1] <> str_split(pair, ' ')[2]
        GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT 1
    ),
    per_doc AS (
        SELECT toks.source,
               len(t) AS tok_before,
               CASE WHEN len(t) >= 2 THEN
                   len(list_filter(list_transform(range(1, len(t)),
                                                  i -> t[i] || ' ' || t[i + 1]),
                                   p -> p = best.pair))
               ELSE 0 END AS n_merged
        FROM toks CROSS JOIN best
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok_before) AS BIGINT) AS tokens_before,
           CAST(SUM(tok_before - n_merged) AS BIGINT) AS tokens_after,
           CAST(SUM(n_merged) AS BIGINT) AS n_merges
    FROM per_doc GROUP BY source
    """,
    tags=("llm", "text"),
)
def q_bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One complete BPE training round, fully distributed: count all
    adjacent token pairs (q_bpe_pair_counts), pick the most frequent
    merge candidate (deterministic tie-break; self-pairs excluded so
    occurrence count equals greedy non-overlapping merge count), and
    apply it — reporting per-source token totals before/after and the
    number of merges performed. Iterating this operator IS tokenizer
    training; each round is the same plan over the re-paired corpus.

    100 TB shape: the winning pair is a 1-row TakeOrderedAndProject
    broadcast back over the corpus via crossJoin (the sanctioned scalar
    pattern — no driver collect), so the apply step is a pure map:
    per-doc merge counting is an array filter over the already-built
    pair array, and the rollup is a tiny per-source hash agg. Nothing
    but (pair, count) partials and 5 rollup rows ever shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.split(F.lower("text"), " ").alias("t")
    ).withColumn(
        "pairs_arr",
        F.when(
            F.size("t") >= 2,
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1),"
                " slice(t, 2, size(t) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            ),
        ).otherwise(F.expr("array()")),
    )
    best = (
        toks.select(F.explode("pairs_arr").alias("pair"))
        .filter(
            F.expr("split(pair, ' ')[0] <> split(pair, ' ')[1]")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(1)
        .select(F.col("pair").alias("best_pair"))
    )
    per_doc = toks.crossJoin(F.broadcast(best)).select(
        "source",
        F.size("t").alias("tok_before"),
        F.expr(
            "size(filter(pairs_arr, p -> p = best_pair))"
        ).alias("n_merged"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok_before").alias("tokens_before"),
        F.sum(F.col("tok_before") - F.col("n_merged")).alias("tokens_after"),
        F.sum("n_merged").alias("n_merges"),
    )


# Top-principal-component power iteration: dimensions, iterations, and
# the fixed-point scale of the eigenvector components.
PC_DIM = 64
PC_ITERS = 3
PC_SCALE = 1_000_000


def _duck_trunc_div(a: str, b: str) -> str:
    """DuckDB `//` floors; Spark `div` truncates toward zero. For b > 0
    emulate truncation: floor the magnitude, restore the sign."""
    return f"(CASE WHEN ({a}) >= 0 THEN ({a}) // ({b}) ELSE -((-({a})) // ({b})) END)"


_TOP_PC_CTES = f"""base AS (
        SELECT vec_id,
               list_aggregate(list_transform(embedding, x -> abs(x)), 'max')
                   AS amax,
               embedding
        FROM embeddings
    ),
    q AS (
        SELECT vec_id,
               CASE WHEN amax = 0
                    THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(embedding, x ->
                        CAST(FLOOR((CAST(x AS DOUBLE) / CAST(amax AS DOUBLE))
                                   * 127) AS BIGINT))
               END AS qv
        FROM base
    ),
    idx AS (SELECT unnest(range(1, {PC_DIM + 1})) AS i),
    s_tri AS (
        SELECT i.i AS i, j.i AS j,
               CAST(SUM(q.qv[i.i] * q.qv[j.i]) AS BIGINT) AS s
        FROM q, idx i, idx j
        WHERE j.i >= i.i
        GROUP BY i.i, j.i
    ),
    s_full AS (
        SELECT i, j, s FROM s_tri
        UNION ALL
        SELECT j AS i, i AS j, s FROM s_tri WHERE i < j
    ),
    m AS (
        SELECT i.i AS i, CAST(SUM(q.qv[i.i]) AS BIGINT) AS m
        FROM q, idx i GROUP BY i.i
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
    c AS (
        SELECT s.i, s.j,
               {_duck_trunc_div('nn.n * s.s - mi.m * mj.m', 'nn.n * nn.n')}
                   AS c
        FROM s_full s
        JOIN m mi ON mi.i = s.i
        JOIN m mj ON mj.i = s.j
        CROSS JOIN nn
    ),
    v0 AS (SELECT i AS j, CAST({PC_SCALE} AS BIGINT) AS v FROM idx),
    w1 AS (SELECT c.i, CAST(SUM(c.c * v.v) AS BIGINT) AS w
           FROM c JOIN v0 v ON v.j = c.j GROUP BY c.i),
    x1 AS (SELECT GREATEST(MAX(abs(w)), 1) AS mx FROM w1),
    v1 AS (SELECT w1.i AS j,
                  {_duck_trunc_div(f'w1.w * {PC_SCALE}', 'x1.mx')} AS v
           FROM w1 CROSS JOIN x1),
    w2 AS (SELECT c.i, CAST(SUM(c.c * v.v) AS BIGINT) AS w
           FROM c JOIN v1 v ON v.j = c.j GROUP BY c.i),
    x2 AS (SELECT GREATEST(MAX(abs(w)), 1) AS mx FROM w2),
    v2 AS (SELECT w2.i AS j,
                  {_duck_trunc_div(f'w2.w * {PC_SCALE}', 'x2.mx')} AS v
           FROM w2 CROSS JOIN x2),
    w3 AS (SELECT c.i, CAST(SUM(c.c * v.v) AS BIGINT) AS w
           FROM c JOIN v2 v ON v.j = c.j GROUP BY c.i),
    x3 AS (SELECT GREATEST(MAX(abs(w)), 1) AS mx FROM w3),
    v3 AS (SELECT w3.i AS j,
                  {_duck_trunc_div(f'w3.w * {PC_SCALE}', 'x3.mx')} AS v
           FROM w3 CROSS JOIN x3)
"""


@session_cached
def _top_pc_frames(spark: SparkSession, sf_dir: str):
    """Shared top-PC machinery (see q_embed_top_pc): returns
    (qv, v, c) where qv = (vec_id, q int8-quantized array),
    v = (j 1-based dim, v 1e6-fixed-point eigenvector component),
    and c = the exact-integer centered covariance (i, j, c) whose
    diagonal seeds the OPQ eigenvalue allocation — all exact int64
    and session-cached so the residual and OPQ keys reuse one Gram
    pass + power iteration."""

    from collections.abc import Iterator

    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "embedding",
        F.expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE),"
            " (a, x) -> greatest(a, CAST(abs(x) AS DOUBLE)))"
        ).alias("amax"),
    )
    # Repartition first: the embeddings table often lands as one file →
    # one partition, which would serialize the Gram-matrix pass.
    qv = base.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    ).select(
        "vec_id",
        F.expr(
            "CASE WHEN amax = 0"
            " THEN transform(embedding, x -> CAST(0 AS BIGINT))"
            " ELSE transform(embedding, x ->"
            "   CAST(FLOOR((CAST(x AS DOUBLE) / amax) * 127) AS BIGINT))"
            " END"
        ).alias("q"),
    )

    def gram_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Per-batch exact int64 partials: S (i,j≥1), m (j=0), n (0,0)."""
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            s = q.T @ q  # exact: |q| ≤ 127 ⇒ entries ≤ n·127² ≪ 2⁶³
            i_idx, j_idx = np.indices(s.shape)
            out = pd.DataFrame(
                {
                    "i": i_idx.ravel() + 1,
                    "j": j_idx.ravel() + 1,
                    "v": s.ravel(),
                }
            )
            mrow = pd.DataFrame(
                {
                    "i": np.arange(1, q.shape[1] + 1),
                    "j": np.zeros(q.shape[1], dtype=np.int64),
                    "v": q.sum(axis=0),
                }
            )
            nrow = pd.DataFrame({"i": [0], "j": [0], "v": [len(q)]})
            yield pd.concat([out, mrow, nrow], ignore_index=True)

    partials = qv.mapInPandas(
        gram_partials, schema="i int, j int, v long"
    )
    merged = partials.groupBy("i", "j").agg(F.sum("v").alias("v"))
    merged = merged.localCheckpoint()
    s_full = merged.filter((F.col("i") >= 1) & (F.col("j") >= 1)).select(
        "i", "j", F.col("v").alias("s")
    )
    m = merged.filter((F.col("i") >= 1) & (F.col("j") == 0)).select(
        "i", F.col("v").alias("m")
    )
    nn = merged.filter((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("v").alias("n")
    )
    c = (
        s_full.join(
            F.broadcast(m.select(F.col("i"), F.col("m").alias("mi"))), "i"
        )
        .join(
            F.broadcast(
                m.select(F.col("i").alias("j"), F.col("m").alias("mj"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "i", "j", F.expr("(n * s - mi * mj) div (n * n)").alias("c")
        )
        .localCheckpoint()
    )
    v = spark.range(1, PC_DIM + 1).select(
        F.col("id").alias("j"), F.lit(PC_SCALE).cast("long").alias("v")
    )
    for _ in range(PC_ITERS):
        w = (
            c.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.expr("c * v")).alias("w"))
        )
        mx = w.agg(F.greatest(F.max(F.abs("w")), F.lit(1)).alias("mx"))
        v = (
            w.crossJoin(F.broadcast(mx))
            .select(
                F.col("i").alias("j"),
                F.expr(f"w * {PC_SCALE} div mx").alias("v"),
            )
            .localCheckpoint()
        )
    qv = qv.localCheckpoint()
    return qv, v, c


@query(
    "q_embed_top_pc",
    oracle=f"""
    WITH {_TOP_PC_CTES}
    SELECT CAST(j AS BIGINT) AS pos, CAST(v AS BIGINT) AS v_scaled
    FROM v3
    """,
    tags=("llm", "vector"),
)
def q_embed_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding matrix — distributed
    PCA's first step (drift monitoring, whitening, the IVF/OPQ rotation
    seed), computed as: int8-quantize (q_embed_quantize_int8 formula) →
    exact integer second-moment matrix via per-vector outer products →
    centered covariance Ĉ = (n·S − m·mᵀ) div n² → 3 power iterations in
    1e6-fixed-point with per-step max-abs renormalization. Every step
    is exact 64-bit integer arithmetic (sign-aware truncating division
    matched between engines), so a 3-iteration eigenvector is
    bit-reproducible — no float summation order anywhere.

    100 TB shape: the only pass over the data computes S = QᵀQ, m, n —
    emitted as PER-PARTITION partials by an Arrow-batched mapInPandas
    doing one exact numpy int64 matmul per batch (dense linear algebra
    is the one place Python belongs: BLAS beats a 2080-way explode
    through codegen by an order of magnitude, and int64 matmul is
    bit-exact). Each partition ships d²+d+1 ≈ 4 k partial rows — the
    mergeable-summary shape of the Misra–Gries sketch — so the shuffle
    is O(partitions·d²), independent of row count. The power iteration
    then runs on a d×d = 4096-row frame (broadcast joins,
    localCheckpoint per step — the q_dedup_clusters loop pattern)."""
    qv, v, _ = _top_pc_frames(spark, sf_dir)
    return v.select(
        F.col("j").cast("long").alias("pos"),
        F.col("v").cast("long").alias("v_scaled"),
    )


def _opq_pq_ctes(p: str, k: int) -> list:
    """Prefixed DuckDB replay of the PQ Lloyd loop (the ``_pq_ctes``
    machinery with ``{p}comp`` supplied by the caller) plus the flat
    ADC serve: query LUT from the final codebook, ADC ranking over
    all codes, top-k, recall vs the exact-cosine truth, and per-
    subspace SSE — one set per OPQ decision-table arm."""
    ctes = [
        f"""{p}asg0 AS (
        SELECT DISTINCT vec_id, subspace,
               CAST(vec_id % {k} AS INTEGER) AS code
        FROM {p}comp
    )"""
    ]
    for i in range(PQ_ITERS):
        ctes.append(
            f"""{p}cent{i} AS (
        SELECT c.subspace, a.code, c.pos,
               CAST(FLOOR(CAST(SUM(c.sv) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS icv
        FROM {p}comp c JOIN {p}asg{i} a
          ON a.vec_id = c.vec_id AND a.subspace = c.subspace
        GROUP BY c.subspace, a.code, c.pos
    )"""
        )
        ctes.append(
            f"""{p}dist{i} AS (
        SELECT c.vec_id, c.subspace, t.code,
               SUM((c.sv - t.icv) * (c.sv - t.icv)) AS dist
        FROM {p}comp c JOIN {p}cent{i} t
          ON t.subspace = c.subspace AND t.pos = c.pos
        GROUP BY c.vec_id, c.subspace, t.code
    )"""
        )
        ctes.append(
            f"""{p}asg{i + 1} AS (
        SELECT vec_id, subspace, code, dist FROM (
            SELECT vec_id, subspace, code, dist,
                   row_number() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY dist, code) AS rn
            FROM {p}dist{i}
        ) WHERE rn = 1
    )"""
        )
    ctes += [
        f"""{p}qc AS (
        SELECT subspace, pos, sv FROM {p}comp WHERE vec_id = 0
    )""",
        f"""{p}lut AS (
        SELECT t.subspace, t.code,
               CAST(SUM((q2.sv - t.icv) * (q2.sv - t.icv)) AS BIGINT) AS l
        FROM {p}cent{PQ_ITERS - 1} t
        JOIN {p}qc q2 ON q2.subspace = t.subspace AND q2.pos = t.pos
        GROUP BY t.subspace, t.code
    )""",
        f"""{p}adc AS (
        SELECT a.vec_id, CAST(SUM(l.l) AS BIGINT) AS d
        FROM {p}asg{PQ_ITERS} a
        JOIN {p}lut l ON l.subspace = a.subspace AND l.code = a.code
        WHERE a.vec_id <> 0 GROUP BY a.vec_id
    )""",
        f"""{p}top AS (
        SELECT vec_id FROM {p}adc ORDER BY d, vec_id LIMIT {TOPK}
    )""",
        f"""{p}rec AS (
        SELECT CAST(COUNT(*) * 100 // {TOPK} AS BIGINT) AS pct
        FROM {p}top JOIN otruth USING (vec_id)
    )""",
        f"""{p}sse AS (
        SELECT subspace, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(dist) AS BIGINT) AS sse
        FROM {p}asg{PQ_ITERS} GROUP BY subspace
    )""",
        f"""{p}tot AS (
        SELECT CAST(SUM(sse) AS BIGINT) AS t FROM {p}sse
    )""",
    ]
    return ctes


def _opq_rotate_oracle() -> str:
    m = PQ_M
    cos = duck_cosine("e.embedding", "q3.qv")
    ctes = [
        _TOP_PC_CTES,
        f"""pos0 AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS v, len(embedding) AS dlen
        FROM embeddings
    )""",
        "dvar AS (SELECT i AS d1, c AS var FROM c WHERE i = j)",
        """drank AS (SELECT d1,
               row_number() OVER (ORDER BY var DESC, d1) - 1 AS r
        FROM dvar)""",
        f"""dmap AS (
        SELECT d1 - 1 AS pos,
               CAST(CASE WHEN (r // {m}) % 2 = 0 THEN r % {m}
                    ELSE {m} - 1 - (r % {m}) END AS INTEGER) AS subspace
        FROM drank
    )""",
        f"""u_comp AS (
        SELECT vec_id, CAST((pos * {m}) // dlen AS INTEGER) AS subspace,
               pos, CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT) AS sv
        FROM pos0
    )""",
        """r_comp AS (
        SELECT p0.vec_id, dm.subspace, p0.pos,
               CAST(FLOOR(CAST(p0.v AS DOUBLE) * 1000) AS BIGINT) AS sv
        FROM pos0 p0 JOIN dmap dm ON dm.pos = p0.pos
    )""",
        """ee AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id <> 0)""",
        """qq AS (SELECT embedding AS qv FROM embeddings
                  WHERE vec_id = 0)""",
        f"""otruth AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, round({cos}, 6) AS cs
            FROM ee e CROSS JOIN qq q3
        ) ORDER BY cs DESC, vec_id LIMIT {TOPK}
    )""",
    ]
    ctes += _opq_pq_ctes("u_", PQ_K) + _opq_pq_ctes("r_", PQ_K)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT u.subspace, u.n_vecs,
           u.sse AS sse_unrot_milli, r.sse AS sse_rot_milli,
           (SELECT t FROM u_tot) AS total_sse_unrot_milli,
           (SELECT t FROM r_tot) AS total_sse_rot_milli,
           (SELECT pct FROM u_rec) AS recall_unrot_pct,
           (SELECT pct FROM r_rec) AS recall_rot_pct
    FROM u_sse u JOIN r_sse r USING (subspace)
    """
    )


@query(
    "q_embed_opq_rotate",
    oracle=_opq_rotate_oracle(),
    tags=("llm", "similarity", "vector"),
)
def q_embed_opq_rotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ ROTATION before PQ training (VERDICT r12 ask #5 — the
    standard production step between PCA and PQ): the eigenvalue-
    allocation form of Optimized Product Quantization (Ge et al.,
    CVPR'13 — a PERMUTATION rotation, orthogonal by construction and
    exactly mirrorable cross-engine where a dense rotation matrix is
    not): rank dimensions by their exact-integer variance (the
    covariance DIAGONAL from q_embed_top_pc's Gram/power-iteration
    machinery — the rotation seed that key's docstring promises) and
    snake-deal them across the M subspaces so each subspace receives
    an equal share of high- and low-variance dimensions, instead of
    the natural contiguous blocks that let one subspace hoard the
    variance. PQ then retrains on the remapped components (the same
    modulo-seeded int64-milli Lloyd loop), and the DECISION TABLE
    reports, per subspace and in total: quantization SSE rotated vs
    unrotated, plus flat-ADC recall@{TOPK} vs the exact-cosine truth
    at the same fixed budget for both arms. Contract (pinned in
    tests/test_ann_recall.py): the allocation's actual guarantee is
    VARIANCE BALANCE — the spread of per-subspace assigned variance
    under the snake deal is never worse than the contiguous layout's,
    with exactly d/M dimensions per subspace. On THIS fixture the
    embeddings are near-isotropic (dimension variances within a few
    percent of each other), so the decision table correctly reports
    ~no SSE change (measured +0.25%) and budget-noise recall deltas —
    the "rotation not worth it here" answer the table exists to give;
    a variance-skewed corpus is where the rotated arm wins, and the
    law test pins the balance property that drives that win directly
    on the covariance diagonal, free of training noise.

    100 TB shape: the rotation itself is metadata-grain (a 64-row
    rank over the covariance diagonal the Gram pass already paid for;
    the global 64-row window is catalog-sized by construction);
    remapping is a broadcast join on the component frame — no extra
    shuffle vs plain PQ training, and the permutation applies to
    query vectors for free at serve time (no dense matrix multiply
    per vector, THE reason eigenvalue allocation is the production
    default when d is large)."""
    _, _, cov = _top_pc_frames(spark, sf_dir)
    m, k = PQ_M, PQ_K
    wv = Window.orderBy(F.desc("var"), "d1")
    dmap = (
        cov.filter(F.col("i") == F.col("j"))
        .select(F.col("i").alias("d1"), F.col("c").alias("var"))
        .withColumn("r", F.row_number().over(wv) - 1)
        .select(
            (F.col("d1") - 1).alias("pos"),
            F.expr(
                f"CAST(CASE WHEN (r div {m}) % 2 = 0 THEN r % {m}"
                f" ELSE {m} - 1 - (r % {m}) END AS INT)"
            ).alias("subspace"),
        )
        .localCheckpoint()
    )
    comp_u, cent_u, asg_u = pq_train(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    pos0 = e.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "v"),
    )
    comp_r = (
        pos0.join(F.broadcast(dmap), "pos")
        .select(
            "vec_id",
            "subspace",
            "pos",
            F.floor(F.col("v").cast("double") * 1000)
            .cast("long")
            .alias("sv"),
        )
        .localCheckpoint()
    )
    cent_r, asg_r = _pq_lloyd(comp_r, k)
    truth = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(
            F.broadcast(
                e.filter(F.col("vec_id") == 0).select(
                    F.col("embedding").alias("qv"),
                    norm("embedding").alias("qnrm"),
                )
            )
        )
        .select(
            "vec_id",
            F.round(
                dot(F.col("embedding"), F.col("qv"))
                / (norm("embedding") * F.col("qnrm")),
                6,
            ).alias("cs"),
        )
        .orderBy(F.desc("cs"), "vec_id")
        .limit(TOPK)
        .select("vec_id")
    )

    def adc_recall(comp: DataFrame, cent: DataFrame, asg: DataFrame):
        qc = comp.filter(F.col("vec_id") == 0).select(
            "subspace", "pos", F.col("sv").alias("qsv")
        )
        d2 = (F.col("qsv") - F.col("icv")) * (F.col("qsv") - F.col("icv"))
        lut = (
            cent.join(F.broadcast(qc), ["subspace", "pos"])
            .groupBy("subspace", "code")
            .agg(F.sum(d2).alias("l"))
        )
        top = (
            asg.filter(F.col("vec_id") != 0)
            .join(F.broadcast(lut), ["subspace", "code"])
            .groupBy("vec_id")
            .agg(F.sum("l").alias("d"))
            .orderBy("d", "vec_id")
            .limit(TOPK)
            .select("vec_id")
        )
        return top.join(truth, "vec_id").agg(
            F.expr(f"CAST(count(*) * 100 div {TOPK} AS BIGINT)").alias(
                "pct"
            )
        )

    rec_u = adc_recall(comp_u, cent_u, asg_u)
    rec_r = adc_recall(comp_r, cent_r, asg_r)

    def sse(asg: DataFrame, name: str) -> DataFrame:
        return asg.groupBy("subspace").agg(
            F.count("*").alias("n_vecs"),
            F.sum("dist").alias(name),
        )

    sse_u = sse(asg_u, "sse_unrot_milli")
    sse_r = sse(asg_r, "sse_rot_milli").drop("n_vecs")
    tot_u = sse_u.agg(
        F.sum("sse_unrot_milli").alias("total_sse_unrot_milli")
    )
    tot_r = sse_r.agg(F.sum("sse_rot_milli").alias("total_sse_rot_milli"))
    return (
        sse_u.join(sse_r, "subspace")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(
            F.broadcast(rec_u.select(F.col("pct").alias("recall_unrot_pct")))
        )
        .crossJoin(
            F.broadcast(rec_r.select(F.col("pct").alias("recall_rot_pct")))
        )
        .select(
            "subspace",
            "n_vecs",
            "sse_unrot_milli",
            "sse_rot_milli",
            "total_sse_unrot_milli",
            "total_sse_rot_milli",
            "recall_unrot_pct",
            "recall_rot_pct",
        )
    )


_LANGID_SCORED_CTE = f"""
    WITH scored AS (
        SELECT doc_id, lang,
           {", ".join(
               f"len(list_intersect(list_distinct(str_split(lower(text), ' ')), "
               f"{_duck_stoplist(words)})) AS s_{lang}"
               for lang, words in STOPWORDS.items()
           )}
        FROM documents
    ),
    pred AS (
        SELECT doc_id, lang AS actual_lang,
               CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en > 0 THEN 'en'
                    WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
                    WHEN s_de > 0 THEN 'de'
                    ELSE 'und' END AS pred_lang
        FROM scored
    )
"""


@query(
    "q_eval_langid_confusion",
    oracle=_LANGID_SCORED_CTE
    + """
    , cells AS (
        SELECT actual_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY actual_lang, pred_lang
    )
    SELECT actual_lang, pred_lang, n,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY actual_lang)
                AS BIGINT) AS recall_ppm,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY pred_lang)
                AS BIGINT) AS precision_ppm
    FROM cells
    """,
    tags=("llm", "eval"),
)
def q_eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a data pipeline: the language-ID
    confusion matrix against the labeled `lang` column, each cell
    carrying exact-ppm recall (cell / actual-class total) and
    precision (cell / predicted-class total) — the eval harness every
    heuristic filter in a curation pipeline needs before its verdicts
    gate training data. Reuses q_text_lang_id's classifier verbatim,
    so the eval measures exactly what the pipeline runs.

    100 TB shape: per-doc classification is map-only (the stopword
    lists are literals in the expression); the confusion matrix is a
    hash agg to |langs|² ≤ 16 cells, and the marginals are windows
    over those 16 rows — the scan dominates, evaluation is free. The
    same shape scores ANY per-row classifier against ANY label
    column."""
    cells = (
        q_text_lang_id(spark, sf_dir)
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    return cells.withColumn(
        "recall_ppm",
        F.expr("n * 1000000 div sum(n) OVER (PARTITION BY actual_lang)"),
    ).withColumn(
        "precision_ppm",
        F.expr("n * 1000000 div sum(n) OVER (PARTITION BY pred_lang)"),
    )


@query(
    "q_dataset_card",
    oracle="""
    WITH t AS (
        SELECT source, lang, n_chars,
               len(str_split(lower(text), ' ')) AS n_tokens,
               CAST(md5(text) AS VARCHAR) AS h
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(2 * quantile_cont(n_tokens, 0.5) AS BIGINT) AS median2_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS en_ppm
    FROM t GROUP BY source
    """,
    tags=("llm", "curation"),
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card generator: the per-source summary table a corpus
    release ships (HuggingFace dataset-card / Datasheets-for-Datasets
    statistics section) — doc counts, exact-dup distinct count
    (md5 grain), token totals, doubled-integer median token length,
    char-length range, language spread, and exact-ppm English share.
    One operator = one card refresh; diffing two cards across corpus
    versions is the release gate.

    100 TB shape: everything is ONE pass — a single hash agg at source
    grain (~5 groups) carrying two COUNT(DISTINCT)s (expanded by Spark
    into partial/final on the distinct key) and an exact percentile;
    the md5 and token count are map-side expressions. The card costs a
    scan, which is why it can run per release candidate."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("h").alias("n_unique_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.percentile("n_tokens", 0.5) * 2)
        .cast("long")
        .alias("median2_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.expr(
            "sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000"
            " div count(*)"
        ).alias("en_ppm"),
    )


@query(
    "q_sample_balance_classes",
    oracle=f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
        GROUP BY lang
    ),
    floor_n AS (SELECT MIN(n) AS quota FROM counts),
    ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {duck_hex_hash('text')}, doc_id
               ) AS rn
        FROM documents
    )
    SELECT r.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           MIN(r.doc_id) AS min_doc, MAX(r.doc_id) AS max_doc
    FROM ranked r CROSS JOIN floor_n q
    WHERE r.rn <= q.quota
    GROUP BY r.lang
    """,
    tags=("llm", "sampling"),
)
def q_sample_balance_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing by majority downsampling: every language is
    cut to the minority class's count, members chosen by content-hash
    rank (deterministic, content-addressed — the same doc wins on
    every engine and partitioning, unlike rand()). This is the
    standard imbalance fix before training a classifier on skewed
    labels, and the hash ranking makes the split reproducible and
    versionable.

    Selection is exact distributed order-statistic selection — the
    majority class never sorts: (1) coarse-bucket each doc by the high
    10 bits of its content hash (1024 buckets, monotone in hash), (2)
    per-(class, bucket) counts + a cumulative window over that tiny
    ≤ |classes|×1024 frame locate the boundary bucket where the
    quota-th element falls and the residual r needed inside it, (3)
    keep every row in lower buckets outright (a broadcast-joined
    filter, no ordering), and rank by (hash, doc_id) ONLY the boundary
    bucket's ~1/1024 slice for its r smallest. Exactly the rows with
    per-class rank ≤ quota — the oracle keeps the plain rank-window
    form and the hashes must match.

    100 TB shape: pass 1 is a map-side-combined count; the only
    rank window sorts n_class/1024 rows instead of n_class (the
    plan gate pins the window input behind the boundary-bucket
    filter). Deeper imbalance just needs more bucket bits — the
    standard two-round distributed selection trade."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", hex_hash(F.col("text")).alias("k")
    )
    # hex_hash ∈ [0, 2³²): high 10 bits → 1024 buckets, monotone in k.
    keyed = d.withColumn("bucket", F.shiftright("k", 22).cast("int"))
    counts = keyed.groupBy("lang").agg(F.count("*").alias("n"))
    quota = F.broadcast(counts.agg(F.min("n").alias("quota")))
    bcounts = keyed.groupBy("lang", "bucket").agg(F.count("*").alias("bn"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = bcounts.withColumn(
        "below", F.coalesce(F.sum("bn").over(wcum), F.lit(0))
    )
    bounds = (
        cum.crossJoin(quota)
        .filter(
            (F.col("below") < F.col("quota"))
            & (F.col("below") + F.col("bn") >= F.col("quota"))
        )
        .select(
            "lang",
            F.col("bucket").alias("b_star"),
            (F.col("quota") - F.col("below")).alias("r"),
        )
    )
    routed = keyed.join(F.broadcast(bounds), "lang")
    lower = routed.filter(F.col("bucket") < F.col("b_star")).select(
        "doc_id", "lang"
    )
    wr = Window.partitionBy("lang").orderBy("k", "doc_id")
    boundary = (
        routed.filter(F.col("bucket") == F.col("b_star"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= F.col("r"))
        .select("doc_id", "lang")
    )
    return (
        lower.unionByName(boundary)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# Token budget for the greedy quality-ranked curation fill.
CURATE_TOKEN_BUDGET = 20_000


@query(
    "q_curate_token_budget",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               len(str_split(lower(text), ' ')) AS n_tokens,
               len(list_distinct(str_split(lower(text), ' '))) * 1000000
                   // len(str_split(lower(text), ' ')) AS quality_ppm
        FROM documents
    ),
    ranked AS (
        SELECT *,
               SUM(n_tokens) OVER (
                   ORDER BY quality_ppm DESC, doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens
        FROM scored
    ),
    picked AS (SELECT * FROM ranked WHERE cum_tokens <= {CURATE_TOKEN_BUDGET})
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(quality_ppm) AS BIGINT) AS min_quality_ppm
    FROM picked GROUP BY source
    """,
    tags=("llm", "curation"),
)
def q_curate_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation fill: rank the corpus by a quality score
    (type/token ratio in exact ppm), take documents greedily until the
    token budget is exhausted (window cumsum over the quality order),
    report the per-source composition and the marginal quality of the
    cut — "fill a 1B-token training mix with the best data first", the
    last step of every curation cascade, deterministic to the document.

    100 TB shape: scoring is map-only; the global quality order is the
    one genuinely global sort in the pipeline (range-partitioned by
    Spark), and its cost is bounded by pre-filtering to plausible
    survivors (the cascade's earlier stages). The budget cut is a
    cumsum predicate, not a collect; the alternative at extreme scale
    — quality-quantile bucketing then exact sort of the boundary
    bucket only — is the documented refinement."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    scored = d.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        F.expr(
            "size(array_distinct(split(lower(text), ' '))) * 1000000"
            " div size(split(lower(text), ' '))"
        ).alias("quality_ppm"),
    )
    w = (
        Window.orderBy(F.desc("quality_ppm"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    picked = scored.withColumn(
        "cum_tokens", F.sum("n_tokens").over(w)
    ).filter(F.col("cum_tokens") <= CURATE_TOKEN_BUDGET)
    return picked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("quality_ppm").alias("min_quality_ppm"),
    )


# OOD screen: k-th-neighbor similarity rank and how many lowest-density
# vectors to surface.
OOD_K = 3
OOD_TOP = 20


@query(
    "q_embed_ood_knn_distance",
    oracle=f"""
    WITH sims AS (
        SELECT a.vec_id, a.label,
               ROUND({duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos,
               b.vec_id AS nbr
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT vec_id, label, cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, nbr) AS rn
        FROM sims
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           cos AS knn{OOD_K}_sim
    FROM ranked WHERE rn = {OOD_K}
    ORDER BY cos, vec_id
    LIMIT {OOD_TOP}
    """,
    tags=("llm", "vector", "dq"),
)
def q_embed_ood_knn_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution screen by k-NN density: each vector's
    similarity to its 3rd-nearest in-bucket neighbor is its local
    density score; the 20 LOWEST-density vectors are the OOD / junk /
    mislabeled-cluster candidates a curation pipeline routes to review
    before they poison contrastive training. (kth-neighbor distance is
    the classic non-parametric outlier score — LOF's cheaper cousin.)

    100 TB shape: identical candidate generation to q_sim_knn_graph
    (IVF-label bucket self-join, never a crossJoin; norms pre-projected
    per row by the shared cosine helper), one bounded rank window per
    vector, then a global TakeOrdered of 20 — the OOD tail, unlike the
    kNN graph, never materializes the full adjacency. Vectors whose
    bucket has < k peers simply don't rank — at scale that itself is
    the strongest OOD signal and surfaces via q_dq_key_skew on the
    label column. Probe side spread before the broadcast self-join
    so the pair fold uses every core (guide §2.6)."""
    base = load_table(spark, sf_dir, "embeddings")
    sel = lambda df: df.select(  # noqa: E731
        "vec_id", "label", "embedding", norm("embedding").alias("nrm")
    )
    a, b = sel(spread(base)).alias("a"), sel(base).alias("b")
    cos = F.round(
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    sims = a.join(
        F.broadcast(b),
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.label").alias("label"),
        cos.alias("cos"),
        F.col("b.vec_id").alias("nbr"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "nbr")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == OOD_K)
        .select(
            "vec_id",
            F.col("label").cast("long"),
            F.col("cos").alias(f"knn{OOD_K}_sim"),
        )
        .orderBy(f"knn{OOD_K}_sim", "vec_id")
        .limit(OOD_TOP)
    )


@query(
    "q_sample_train_val_test",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source,
               len(str_split(lower(text), ' ')) AS n_tokens,
               {duck_hex_hash('text')} % 100 AS slot
        FROM documents
    ),
    labeled AS (
        SELECT source, n_tokens,
               CASE WHEN slot < 98 THEN 'train'
                    WHEN slot < 99 THEN 'val'
                    ELSE 'test' END AS split
        FROM h
    )
    SELECT source, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM labeled GROUP BY source, split
    """,
    tags=("llm", "sampling"),
)
def q_sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash train/val/test split (98/1/1) — the reproducible
    split contract every training pipeline needs: membership is a pure
    function of document CONTENT (hash mod 100), so re-running on a
    grown corpus never moves an old document across splits (the leak
    that invalidates eval sets), duplicates land in the same split by
    construction, and no engine, partitioning, or ordering changes the
    assignment. Reported per (source, split) with token budgets — the
    sanity table checked before training starts.

    100 TB shape: a map-only expression plus one shrinking hash agg;
    the split predicate pushes into any downstream scan (train readers
    filter slot < 98 at the parquet level when slot is materialized as
    a partition column)."""
    d = load_table(spark, sf_dir, "documents")
    slot = hex_hash(F.col("text")) % 100
    split = (
        F.when(slot < 98, "train").when(slot < 99, "val").otherwise("test")
    )
    return (
        d.select(
            "source",
            F.size(tokens("text")).alias("n_tokens"),
            split.alias("split"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup: cross-document duplicated spans (substring-level, Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" class)
# ---------------------------------------------------------------------------

SPAN_K = 8  # minimum duplicated-span length in tokens

# Span-shingle hash width (SCALE.md §16): 60-bit BIGINT by default;
# SPARK_GRAFT_SPAN_HASH_BITS=120 switches the WHOLE span family (batch
# keys, stream key, and every oracle — both are generated from the same
# selector below) to the (hi, lo) two-BIGINT struct key for corpora
# past ~10¹⁰ distinct shingles. Import-time because registered oracle
# SQL embeds the hash expression; tests/test_span_hash_width.py runs
# the family differential in a 120-bit subprocess to keep both modes
# green, and tools/dedup_scale_probe.py probes linearity under either.
SPAN_HASH_BITS = int(os.environ.get("SPARK_GRAFT_SPAN_HASH_BITS", "60"))
if SPAN_HASH_BITS not in (60, 120):
    raise ValueError(
        f"SPARK_GRAFT_SPAN_HASH_BITS must be 60 or 120, got {SPAN_HASH_BITS}"
    )
span_hash = hex_hash60 if SPAN_HASH_BITS == 60 else hex_hash120
duck_span_hash = (
    duck_hex_hash60 if SPAN_HASH_BITS == 60 else duck_hex_hash120
)


def _positioned_shingle_col(k: int = SPAN_K):
    """(tokens column) -> array of k-token shingles, position-aligned
    (index i covers tokens [i, i+k-1]); empty for short docs. Same
    slice+zip_with construction as functions.text.shingles but WITHOUT
    array_distinct — span detection needs every occurrence at its
    position."""
    t = tokens("text")
    n = F.size(t)
    parts = [F.slice(t, j + 1, n - (k - 1)) for j in range(k)]
    z = parts[0]
    for p in parts[1:]:
        z = F.zip_with(z, p, lambda x, y: F.concat_ws(" ", x, y))
    return F.when(n >= k, z).otherwise(F.array().cast("array<string>"))


def _span_prefix_cte(
    k: int = SPAN_K, table: str = "documents", pre: str = ""
) -> str:
    """Shared oracle prefix: positioned shingles -> hash -> cross-doc
    duplicate-shingle vocabulary. ``table`` selects the doc source;
    ``pre`` injects CTEs ahead of it (the cascade defines survivors
    first)."""
    parts = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return f"""
    WITH {pre}toks AS (
        SELECT doc_id, source, str_split(lower(text), ' ') AS t
        FROM {table}
    ),
    sh AS (
        SELECT doc_id, i AS pos, {parts} AS s
        FROM toks, LATERAL unnest(range(1, len(t) - {k - 2})) AS u(i)
        WHERE len(t) >= {k}
    ),
    hs AS (
        SELECT doc_id, pos, {duck_span_hash('s')} AS h FROM sh
    ),
    dup AS (
        SELECT h FROM hs GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    )"""


def _span_islands_cte(k: int = SPAN_K) -> str:
    """Prefix + per-doc maximal islands of duplicated positions
    (interval merge: consecutive hits whose covered token ranges
    overlap or touch collapse into one span)."""
    return _span_prefix_cte(k) + f""",
    hits AS (
        SELECT doc_id, pos FROM hs WHERE h IN (SELECT h FROM dup)
    ),
    brk AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos) > {k}
                    OR lag(pos) OVER (PARTITION BY doc_id
                                      ORDER BY pos) IS NULL
                    THEN 1 ELSE 0 END AS b
        FROM hits
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
        FROM brk
    ),
    spans AS (
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) - MIN(pos) + {k} AS BIGINT) AS span_tokens
        FROM isl GROUP BY doc_id, island
    )
    """


@session_cached
def _span_positioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached positioned-shingle frame (doc_id, 1-based pos, 60-bit h)
    shared by the whole span-dedup family — localCheckpointed once per
    (session, sf) so the explode+hash runs once, not once per key."""
    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", F.posexplode(_positioned_shingle_col(SPAN_K)))
        .select(
            "doc_id",
            (F.col("pos") + 1).alias("pos"),
            span_hash(F.col("col")).alias("h"),
        )
        .localCheckpoint()
    )
    return sh


@session_cached
def _span_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, span_start, span_tokens) maximal cross-doc duplicated
    spans — the Spark side of the shared CTE chain above. Cached per
    (session, sf): q_dedup_spans and q_dedup_span_stats share it."""
    k = SPAN_K
    sh = _span_positioned(spark, sf_dir)
    dup = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits = sh.join(dup, "h", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = hits.withColumn(
        "b",
        F.when(
            (F.col("pos") - F.lag("pos").over(w) > k)
            | F.lag("pos").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    isl = brk.withColumn(
        "island",
        F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") - F.min("pos") + k).cast("long").alias("span_tokens"),
    )
    return spans


@query(
    "q_dedup_spans",
    oracle=_span_islands_cte()
    + """
    SELECT doc_id, span_start, span_tokens FROM spans
    """,
    tags=("llm", "dedup"),
)
def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the substring-level
    dedup form (Lee et al. 2022): find every maximal run of >= SPAN_K
    consecutive tokens that also appears in some OTHER document, and
    report it as (doc_id, span_start, span_tokens). Doc-level Jaccard
    (q_dedup_ngram_jaccard) and sentence-level boilerplate
    (q_text_boilerplate_lines) bracket this; only the span form catches
    a repeated passage inside otherwise-distinct pages.

    Shape: positioned k-shingles (pure map, no distinct) -> one hash
    agg building the cross-doc duplicate-shingle vocabulary (hash +
    distinct-doc count only — never text) -> LEFT SEMI probe of the
    positioned shingles against it -> per-doc islands window merging
    overlapping hits into maximal spans. Never all-pairs: cost is
    linear in corpus shingle volume + duplicated-position volume.
    At 100 TB the vocabulary agg is the only wide shuffle (8-byte hash
    keys, map-side combine); ultra-hot boilerplate shingles cap the
    probe fan-out at occurrence count, not pair count (contrast: a
    shingle-equi pair join would square them)."""
    return _span_frames(spark, sf_dir).select(
        "doc_id", "span_start", "span_tokens"
    )


@query(
    "q_dedup_span_stats",
    oracle=_span_islands_cte()
    + """
    , per_doc AS (
        SELECT doc_id, SUM(span_tokens) AS dup_tokens FROM spans
        GROUP BY doc_id
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(p.doc_id) AS BIGINT) AS n_docs_with_dup,
           CAST(SUM(len(t.t)) AS BIGINT) AS total_tokens,
           CAST(COALESCE(SUM(p.dup_tokens), 0) AS BIGINT) AS dup_tokens,
           round(CAST(COALESCE(SUM(p.dup_tokens), 0) AS DOUBLE)
                 / SUM(len(t.t)), 6) AS dup_frac
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    GROUP BY t.source
    """,
    tags=("llm", "dedup"),
)
def q_dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-token fraction — the corpus-health rollup
    over q_dedup_spans: what fraction of each source's tokens sit
    inside a cross-document duplicated span (the number a curation run
    thresholds to quarantine scraper-looped sources). Spans are
    disjoint per doc by construction (maximal islands), so the token
    sum is exact, one small left join + per-source agg on top of the
    span frame."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = (
        _span_frames(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("dup_tokens"))
    )
    docs = d.select(
        "doc_id", "source", F.size(tokens("text")).alias("n_toks")
    )
    j = docs.join(per_doc, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("dup_tokens").alias("n_docs_with_dup"),
        F.sum("n_toks").alias("total_tokens"),
        F.coalesce(F.sum("dup_tokens"), F.lit(0)).alias("dup_tokens"),
        F.round(
            F.coalesce(F.sum("dup_tokens"), F.lit(0)).cast("double")
            / F.sum("n_toks"),
            6,
        ).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# BPE training: K full merge rounds (greedy pair merge, re-paired corpus)
# ---------------------------------------------------------------------------

BPE_TRAIN_ROUNDS = 3


def _bpe_rewrite_sql(t: str, bx: str, by: str) -> str:
    """DuckDB list expression applying one merge (x,y)->x_y to token
    list ``t``. Non-self pairs cannot overlap themselves, so the
    positional rewrite is exact greedy: position i becomes the merged
    symbol when (t[i],t[i+1]) is the pair, is dropped when its
    predecessor merged it, else passes through."""
    return f"""list_filter(list_transform(range(1, len({t}) + 1), i ->
        CASE WHEN i < len({t}) AND {t}[i] = {bx} AND {t}[i + 1] = {by}
                 THEN {t}[i] || '_' || {t}[i + 1]
             WHEN i > 1 AND {t}[i - 1] = {bx} AND {t}[i] = {by}
                 THEN NULL
             ELSE {t}[i] END), x -> x IS NOT NULL)"""


def _bpe_train_oracle(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    ctes = [
        "t1 AS (SELECT str_split(lower(text), ' ') AS t FROM documents)"
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""p{r} AS (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS pair
        FROM t{r} WHERE len(t) >= 2
    )"""
        )
        ctes.append(
            f"""b{r} AS (
        SELECT pair FROM p{r}
        WHERE str_split(pair, ' ')[1] <> str_split(pair, ' ')[2]
        GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT 1
    )"""
        )
        rew = _bpe_rewrite_sql(
            "t", f"str_split(b{r}.pair, ' ')[1]", f"str_split(b{r}.pair, ' ')[2]"
        )
        ctes.append(
            f"""n{r} AS (
        SELECT t, {rew} AS nt, b{r}.pair AS pair
        FROM t{r} CROSS JOIN b{r}
    )"""
        )
        ctes.append(
            f"""r{r} AS (
        SELECT CAST({r} AS BIGINT) AS round, pair AS merged_pair,
               CAST(SUM(len(t) - len(nt)) AS BIGINT) AS n_merges,
               CAST(SUM(len(nt)) AS BIGINT) AS tokens_after
        FROM n{r} GROUP BY pair
    )"""
        )
        ctes.append(f"t{r + 1} AS (SELECT nt AS t FROM n{r})")
    union = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM r{r}" for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + union


@session_cached
def bpe_rounds(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], list[DataFrame]]:
    """(states, bests): per-round BPE state shared by q_bpe_train and
    q_bpe_encode — states[r] is the per-doc token corpus after r merges
    (doc_id, t), bests[r-1] the 1-row winning pair of round r; all
    localCheckpointed, computed ONCE per (session, sf). Train and
    encode run the identical merge sequence by construction, and the
    K pair-count shuffles happen once, not once per key."""
    d = load_table(spark, sf_dir, "documents")
    cur = d.select(
        "doc_id", F.split(F.lower("text"), " ").alias("t")
    ).localCheckpoint()
    states, bests = [cur], []
    for _r in range(1, BPE_TRAIN_ROUNDS + 1):
        pairs_arr = F.when(
            F.size("t") >= 2,
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            ),
        ).otherwise(F.expr("array()"))
        paired = cur.withColumn("pairs_arr", pairs_arr)
        best = (
            paired.select(F.explode("pairs_arr").alias("pair"))
            .filter(F.expr("split(pair, ' ')[0] <> split(pair, ' ')[1]"))
            .groupBy("pair")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .select(F.col("pair").alias("bp"))
            .localCheckpoint()
        )
        cur = (
            paired.crossJoin(F.broadcast(best))
            .withColumn("bx", F.expr("split(bp, ' ')[0]"))
            .withColumn("by", F.expr("split(bp, ' ')[1]"))
            .select(
                "doc_id",
                F.expr(
                    """filter(transform(sequence(1, size(t)), i ->
                        CASE WHEN i < size(t) AND element_at(t, i) = bx
                                  AND element_at(t, i + 1) = by
                                 THEN concat(bx, '_', by)
                             WHEN i > 1 AND element_at(t, i - 1) = bx
                                  AND element_at(t, i) = by
                                 THEN NULL
                             ELSE element_at(t, i) END),
                        x -> x IS NOT NULL)"""
                ).alias("t"),
            )
            .localCheckpoint()
        )
        states.append(cur)
        bests.append(best)
    return states, bests


@query(
    "q_bpe_train",
    oracle=_bpe_train_oracle(),
    tags=("llm", "text", "iterative"),
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BPE tokenizer TRAINING (extends q_bpe_merge_round,
    which does one round without applying it): K = BPE_TRAIN_ROUNDS
    rounds of count-pairs -> pick most-frequent non-self pair
    (deterministic tie-break) -> APPLY the merge corpus-wide -> repeat
    on the re-paired corpus. Emits the learned merge list — one row per
    round: (round, merged_pair, n_merges, tokens_after).

    The apply step is a pure positional map (non-self pairs cannot
    self-overlap, so greedy merge count equals occurrence count and a
    transform+filter over token indices is exact — no sequential scan
    needed); the winning pair stays a 1-row TakeOrderedAndProject
    broadcast via crossJoin, never a driver collect. Each round
    localCheckpoints the rewritten corpus so plan lineage stays flat
    across rounds (the star-CC loop mechanic).

    100 TB shape per round: one (pair, partial-count) shuffle bounded
    by live vocabulary², one broadcast of a 1-row pair, one map over
    the corpus. K rounds = K identical plans; a real 50k-vocab train
    batches the top-B non-interacting pairs per round to cut rounds,
    same plan otherwise."""
    states, bests = bpe_rounds(spark, sf_dir)
    out = []
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        tb = states[r - 1].agg(
            F.sum(F.size("t")).alias("tokens_before")
        )
        out.append(
            states[r]
            .agg(F.sum(F.size("t")).alias("tokens_after"))
            .crossJoin(F.broadcast(tb))
            .crossJoin(F.broadcast(bests[r - 1]))
            .select(
                F.lit(r).cast("long").alias("round"),
                F.col("bp").alias("merged_pair"),
                (F.col("tokens_before") - F.col("tokens_after")).alias(
                    "n_merges"
                ),
                "tokens_after",
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


# ---------------------------------------------------------------------------
# IVF-PQ asymmetric-distance (ADC) top-k — composing the coarse quantizer
# (q_sim_ann_ivf) with the product-quantization codebooks (q_embed_pq_codes)
# ---------------------------------------------------------------------------


# ADC uses a finer codebook than the teaching-size q_embed_pq_codes
# (M=4 sub x K=8 codes) and probes more coarse cells than the teaching
# IVF route (ANN_NPROBE=3): 32 subspaces x 16 codes = 4 bits per 2 dims,
# ADC_NPROBE=8. Grid-measured recall@20 vs the exact cosine baseline
# (round 7): raw ADC 0.70 at sf0.01 (was 0.40 at M=16/nprobe=3); the
# IVF cell-recall ceiling it composes with is 0.95 (sf0.01) / 0.85
# (sf0.1) at nprobe=8. The residual gap is PQ ranking error, which the
# exact-rerank stage (q_sim_adc_rerank) removes for the shortlist - the
# standard serving ladder: ADC shortlist -> exact rerank of ADC_RERANK_POOL
# candidates. Extra cost of the upgrade, priced: LUT 128->512 broadcast
# rows, PQ codes 16->32 bytes/vector scanned, rerank reads d floats for
# ADC_RERANK_POOL vectors only.
ADC_M = 32
ADC_K = 16
ADC_NPROBE = 8
ADC_RERANK_POOL = 100


def _adc_parts(limit: int = TOPK) -> tuple[list[str], str]:
    """(ctes, final-select) of the single-query ADC top-``limit``, so
    the recall-audit and rerank oracles compose the same chain as a
    CTE."""
    pq = _pq_ctes(ADC_M, ADC_K)
    iv, _cb, iv_asg, iv_probed = _ivf_ctes("iv_", nprobe=ADC_NPROBE)
    ctes = pq + iv + [
        """qc AS (
        SELECT subspace, pos, sv AS qsv FROM comp WHERE vec_id = 0
    )""",
        f"""lut AS (
        SELECT c.subspace, c.code,
               SUM((q.qsv - c.icv) * (q.qsv - c.icv)) AS l
        FROM cent{PQ_ITERS - 1} c
        JOIN qc q ON q.subspace = c.subspace AND q.pos = c.pos
        GROUP BY c.subspace, c.code
    )""",
        f"""cand AS (
        SELECT a.vec_id, a.cell FROM {iv_asg} a
        WHERE a.cell IN (SELECT cell FROM {iv_probed}) AND a.vec_id <> 0
    )""",
    ]
    final = f"""
    SELECT c.vec_id, c.cell, CAST(SUM(l.l) AS BIGINT) AS adc_dist
    FROM cand c
    JOIN asg{PQ_ITERS} pc ON pc.vec_id = c.vec_id
    JOIN lut l ON l.subspace = pc.subspace AND l.code = pc.code
    GROUP BY c.vec_id, c.cell
    ORDER BY adc_dist, c.vec_id
    LIMIT {limit}
    """
    return ctes, final


def _adc_oracle() -> str:
    ctes, final = _adc_parts()
    return "WITH " + ",\n    ".join(ctes) + final


def _adc_topk_pool(
    spark: SparkSession, sf_dir: str, limit: int
) -> DataFrame:
    """The single-query ADC chain (probe -> LUT -> code-join -> top-k),
    shared by q_sim_ivf_pq_adc (limit=TOPK) and q_sim_adc_rerank
    (limit=ADC_RERANK_POOL)."""
    comp, cent, codes = pq_train(spark, sf_dir, ADC_M, ADC_K)
    cb, members = ivf_train(spark, sf_dir)
    return _adc_serve(spark, sf_dir, cent, codes, cb, members, limit)


def _adc_serve(
    spark: SparkSession,
    sf_dir: str,
    cent: DataFrame,
    codes: DataFrame,
    cb: DataFrame,
    members: DataFrame,
    limit: int,
) -> DataFrame:
    """Serve the ADC top-``limit`` from INDEX FRAMES (codebook, codes,
    coarse codebook, inverted lists) — callers supply either the
    just-trained frames (_adc_topk_pool) or frames reloaded from
    storage (q_sim_index_persist): serving never cares which, which is
    the index-as-data contract. The only non-index inputs are the
    query vector itself (milli-quantized per subspace below — the same
    derivation pq_train applies corpus-wide) and, for cell routing,
    the raw query embedding."""
    e0 = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0)
    qcomp = (
        e0.select(
            F.size("embedding").alias("dlen"),
            F.posexplode("embedding").alias("pos", "v"),
        )
        .select(
            F.expr(f"CAST((pos * {ADC_M}) DIV dlen AS INT)").alias("subspace"),
            "pos",
            F.floor(F.col("v").cast("double") * 1000).cast("long").alias("qsv"),
        )
    )
    d = F.col("qsv") - F.col("icv")
    lut = (
        cent.join(F.broadcast(qcomp), ["subspace", "pos"])
        .groupBy("subspace", "code")
        .agg(F.sum(d * d).alias("l"))
    )
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    probe_cos = cosine(F.col("cvec"), F.col("qv"))
    probed = (
        cb.crossJoin(qv)
        .select("cell", F.round(probe_cos, 6).alias("pc"))
        .orderBy(F.col("pc").desc(), F.col("cell"))
        .limit(ADC_NPROBE)
        .select("cell")
    )
    cand = (
        members.join(F.broadcast(probed), "cell", "left_semi")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "cell")
    )
    return (
        cand.join(codes.select("vec_id", "subspace", "code"), "vec_id")
        .join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("vec_id", "cell")
        .agg(F.sum("l").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(limit)
    )


@query("q_sim_ivf_pq_adc", oracle=_adc_oracle(), tags=("llm", "similarity"))
def q_sim_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with asymmetric distance computation — the full
    billion-scale ANN serving stack: route the query to ADC_NPROBE
    coarse cells (trained IVF quantizer, q_sim_ann_ivf's machinery at
    a serving-grade probe count), then score every candidate WITHOUT
    touching its vector — each candidate costs M=32 table lookups into
    a per-query LUT of squared subspace distances (query subvector vs
    each PQ codebook entry, int64 milli-units so DuckDB reproduces
    every distance bit-for-bit). Returns the top-k by ADC distance;
    recall vs the exact cosine baseline is pinned by
    tests/test_ann_recall.py and engine-audited by
    q_sim_adc_recall_audit (0.70 at sf0.01 after the round-7 M=16->32,
    nprobe=3->8 upgrade; q_sim_adc_rerank lifts the served list to the
    IVF cell-recall ceiling).

    100 TB shape: candidate vectors NEVER load — only their M-byte PQ
    codes join against a broadcast M×K-row LUT (512 rows), so the
    scan reads |probed cells| × M bytes/vector instead of d floats;
    the groupBy(vec_id) sum is map-side combinable, and the top-k is
    TakeOrderedAndProject. The LUT build is O(K·d) per query and
    batches trivially for multi-query serving (LUT keyed by query_id,
    still broadcast-sized)."""
    return _adc_topk_pool(spark, sf_dir, TOPK)


def _adc_rerank_oracle() -> str:
    ctes, final = _adc_parts(ADC_RERANK_POOL)
    ctes = ctes + ["short AS (" + final + ")"]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT e.vec_id,
           round({duck_cosine("e.embedding", "iv_q.qv")}, 6) AS cos_sim
    FROM embeddings e JOIN short s ON s.vec_id = e.vec_id CROSS JOIN iv_q
    ORDER BY round({duck_cosine("e.embedding", "iv_q.qv")}, 6) DESC,
             e.vec_id
    LIMIT {TOPK}
    """
    )


@query(
    "q_sim_adc_rerank",
    oracle=_adc_rerank_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist + EXACT rerank — the top rung of the serving
    ladder (binary-Hamming and raw-ADC are the lower rungs): take the
    ADC top-ADC_RERANK_POOL (quantized distances, vectors untouched),
    then read the true vectors for ONLY those candidates and re-order
    by exact cosine. Recall equals the IVF cell-recall ceiling
    (nprobe-bound, 0.85-0.95 here) instead of being degraded by PQ
    ranking error — grid-measured round 7: raw ADC 0.70 -> reranked
    0.95 at sf0.01. tests/test_ann_recall.py pins both floors.

    100 TB shape: the rerank stage reads d floats x ADC_RERANK_POOL
    rows (a point lookup by vec_id — at rest this is the primary-key
    fetch every vector store serves), NOT the probed cells' full
    vectors; everything upstream stays M bytes/vector. The final sort
    is TakeOrderedAndProject over POOL rows."""
    shortlist = _adc_topk_pool(spark, sf_dir, ADC_RERANK_POOL).select(
        "vec_id"
    )
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    c = F.round(cosine(F.col("embedding"), F.col("qv")), 6)
    return (
        e.join(shortlist, "vec_id", "left_semi")
        .crossJoin(qv)
        .select("vec_id", c.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(TOPK)
    )


# ---------------------------------------------------------------------------
# Embedding-space contamination screen (semantic complement of
# q_contamination_ngram: catches paraphrase contamination the 8-token
# shingle screen cannot see)
# ---------------------------------------------------------------------------

CONTAM_EVAL_MOD = 25  # vec_id % 25 == 0 -> held-out eval set
CONTAM_NPROBE = 2  # coarse cells probed per eval vector
CONTAM_TAU = 0.35  # cosine flag threshold


@query(
    "q_contamination_embedding",
    oracle=_CENTROID_CTE
    + f""",
    ev AS (
        SELECT vec_id AS eid, embedding AS evec FROM embeddings
        WHERE vec_id % {CONTAM_EVAL_MOD} = 0
    ),
    probes AS (
        SELECT eid, clabel FROM (
            SELECT eid, clabel,
                   row_number() OVER (
                       PARTITION BY eid
                       ORDER BY round({duck_cosine("evec", "centroid")}, 6)
                                    DESC,
                                clabel
                   ) AS rn
            FROM ev CROSS JOIN cents
        ) WHERE rn <= {CONTAM_NPROBE}
    ),
    hits AS (
        SELECT t.vec_id AS train_vec_id, p.eid,
               round({duck_cosine("t.embedding", "ev.evec")}, 6) AS c
        FROM embeddings t
        JOIN probes p ON t.label = p.clabel
        JOIN ev ON ev.eid = p.eid
        WHERE t.vec_id % {CONTAM_EVAL_MOD} <> 0
    )
    SELECT train_vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           MAX(c) AS max_cos,
           MIN(eid) AS min_eval_id
    FROM hits WHERE c >= {CONTAM_TAU}
    GROUP BY train_vec_id
    """,
    tags=("llm", "similarity", "curation"),
)
def q_contamination_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space contamination screen — the semantic complement
    of q_contamination_ngram: eval-set vectors (held out by
    vec_id % CONTAM_EVAL_MOD) probe the training corpus through the
    IVF bucket route (label-centroid coarse codebook, CONTAM_NPROBE
    cells per eval vector) and every training vector with cosine >=
    CONTAM_TAU to ANY eval vector is flagged with its hit count and
    max similarity. Catches paraphrase contamination that the 8-token
    shingle screen cannot see.

    100 TB shape: the eval side is small by construction and
    broadcast; training vectors are touched only inside probed cells
    (partition-prunes when the corpus is written partitioned by cell),
    so cost is (eval × nprobe × cell-occupancy), never eval × train.
    The centroid codebook is the same k×d broadcast every IVF operator
    here shares."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.floor(F.col("v").cast("double") * 1000)).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("label").alias("clabel"),
            "pos",
            (F.col("s").cast("double") / (F.lit(1000.0) * F.col("n"))).alias(
                "cv"
            ),
        )
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid")
        )
    )
    ev = e.filter(F.col("vec_id") % CONTAM_EVAL_MOD == 0).select(
        F.col("vec_id").alias("eid"), F.col("embedding").alias("evec")
    )
    pc = F.round(cosine(F.col("evec"), F.col("centroid")), 6)
    w = Window.partitionBy("eid").orderBy(
        F.col("pc").desc(), F.col("clabel")
    )
    probes = (
        ev.crossJoin(F.broadcast(cents))
        .select("eid", "evec", "clabel", pc.alias("pc"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CONTAM_NPROBE)
        .select("eid", "evec", "clabel")
    )
    c = F.round(cosine(F.col("embedding"), F.col("evec")), 6)
    hits = (
        e.filter(F.col("vec_id") % CONTAM_EVAL_MOD != 0)
        .join(
            F.broadcast(probes), F.col("label") == F.col("clabel")
        )
        .select(F.col("vec_id").alias("train_vec_id"), "eid", c.alias("c"))
        .filter(F.col("c") >= CONTAM_TAU)
    )
    return hits.groupBy("train_vec_id").agg(
        F.count("*").alias("n_eval_hits"),
        F.max("c").alias("max_cos"),
        F.min("eid").alias("min_eval_id"),
    )


@query(
    "q_dedup_span_pairs",
    oracle=_span_islands_cte()
    + f""",
    hp AS (
        SELECT doc_id, pos, h FROM hs WHERE h IN (SELECT h FROM dup)
    ),
    occ AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, b.pos AS pb
        FROM hp a JOIN hp b
          ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    pbrk AS (
        SELECT doc_a, doc_b, pa, pb,
               CASE WHEN pa - lag(pa) OVER w = 1
                     AND pb - lag(pb) OVER w = 1
                    THEN 0 ELSE 1 END AS b
        FROM occ
        WINDOW w AS (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa)
    ),
    pisl AS (
        SELECT doc_a, doc_b, pa, pb,
               SUM(b) OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa
                            ROWS UNBOUNDED PRECEDING) AS island
        FROM pbrk
    )
    SELECT doc_a, doc_b,
           CAST(MIN(pa) AS BIGINT) AS a_start,
           CAST(MIN(pb) AS BIGINT) AS b_start,
           CAST(MAX(pa) - MIN(pa) + {SPAN_K} AS BIGINT) AS span_tokens
    FROM pisl GROUP BY doc_a, doc_b, pa - pb, island
    """,
    tags=("llm", "dedup"),
)
def q_dedup_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span DOC PAIRS — the pair-grain companion to
    q_dedup_spans: for every pair of documents sharing a >= SPAN_K-token
    passage, the maximal shared span as (doc_a, doc_b, a_start,
    b_start, span_tokens). Maximality is per alignment DIAGONAL
    (pa − pb): consecutive co-occurring shingle positions that advance
    together in both documents merge into one span — the Lee et al.
    substring-match geometry, done relationally.

    Shape: the duplicate-shingle vocabulary (same one q_dedup_spans
    builds) LEFT SEMI-prunes the positioned shingles, and only the
    surviving occurrences self-join on the shingle hash — candidate
    volume is sum-over-dup-shingles of occ², bounded by shingle
    frequency, never corpus². The islands pass is a window over
    (doc_a, doc_b, diagonal) — one shuffle on the pair key. At 100 TB
    the ultra-hot-shingle cap (drop or salt shingles with df above a
    threshold) is the documented dial, same as q_dedup_ngram_jaccard's
    shared-shingle join."""
    k = SPAN_K
    sh = _span_positioned(spark, sf_dir)
    dup = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hp = sh.join(dup, "h", "left_semi")
    a, b = hp.alias("a"), hp.alias("b")
    occ = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    wd = Window.partitionBy("doc_a", "doc_b", F.col("pa") - F.col("pb")).orderBy(
        "pa"
    )
    pbrk = occ.withColumn(
        "b",
        F.when(
            (F.col("pa") - F.lag("pa").over(wd) == 1)
            & (F.col("pb") - F.lag("pb").over(wd) == 1),
            0,
        ).otherwise(1),
    )
    pisl = pbrk.withColumn(
        "island",
        F.sum("b").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return pisl.groupBy(
        "doc_a", "doc_b", (F.col("pa") - F.col("pb")).alias("diag"), "island"
    ).agg(
        F.min("pa").cast("long").alias("a_start"),
        F.min("pb").cast("long").alias("b_start"),
        (F.max("pa") - F.min("pa") + k).cast("long").alias("span_tokens"),
    ).select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")


@query(
    "q_dedup_span_strip",
    oracle=_span_prefix_cte()
    + f""",
    keep AS (
        SELECT h, MIN(doc_id) AS keeper FROM hs
        WHERE h IN (SELECT h FROM dup) GROUP BY h
    ),
    strippable AS (
        SELECT s.doc_id, s.pos
        FROM hs s JOIN keep k ON s.h = k.h AND s.doc_id <> k.keeper
    ),
    sbrk AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos) > {SPAN_K}
                    OR lag(pos) OVER (PARTITION BY doc_id
                                      ORDER BY pos) IS NULL
                    THEN 1 ELSE 0 END AS b
        FROM strippable
    ),
    sisl AS (
        SELECT doc_id, pos,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
        FROM sbrk
    ),
    sspans AS (
        SELECT doc_id, MAX(pos) - MIN(pos) + {SPAN_K} AS span_tokens
        FROM sisl GROUP BY doc_id, island
    ),
    per_doc AS (
        SELECT doc_id, SUM(span_tokens) AS stripped FROM sspans
        GROUP BY doc_id
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(t.t)) AS BIGINT) AS tokens_before,
           CAST(COALESCE(SUM(p.stripped), 0) AS BIGINT) AS tokens_stripped,
           CAST(SUM(len(t.t)) - COALESCE(SUM(p.stripped), 0) AS BIGINT)
               AS tokens_after
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    GROUP BY t.source
    """,
    tags=("llm", "dedup", "curation"),
)
def q_dedup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span STRIPPING — the apply step of substring-level
    dedup (Lee et al. 2022 remove-all-but-one): every duplicated
    shingle elects a keeper (min doc_id among holders), non-keeper
    occurrences become strippable positions, strippable positions merge
    into maximal spans (same islands pass as q_dedup_spans), and the
    per-source rollup reports tokens before / stripped / after — the
    corpus-size delta a dedup run reports before committing.

    Keeper election at POSITION grain keeps the result well-defined
    when spans from different keepers overlap in one doc. Shape: one
    (h -> min doc) agg over the dup vocabulary, one hash join back
    (8-byte keys), islands window, per-source agg — all linear in
    duplicated-position volume, gated at 4× by
    tests/test_scale_shape.py."""
    d = load_table(spark, sf_dir, "documents")
    k = SPAN_K
    sh = _span_positioned(spark, sf_dir)
    dup = (
        sh.groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "keeper")
    )
    strippable = (
        sh.join(dup, "h")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    sbrk = strippable.withColumn(
        "b",
        F.when(
            (F.col("pos") - F.lag("pos").over(w) > k)
            | F.lag("pos").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sisl = sbrk.withColumn(
        "island",
        F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_doc = (
        sisl.groupBy("doc_id", "island")
        .agg((F.max("pos") - F.min("pos") + k).alias("span_tokens"))
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("stripped"))
    )
    docs = d.select("doc_id", "source", F.size(tokens("text")).alias("nt"))
    j = docs.join(per_doc, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("tokens_before"),
        F.coalesce(F.sum("stripped"), F.lit(0)).alias("tokens_stripped"),
        (F.sum("nt") - F.coalesce(F.sum("stripped"), F.lit(0))).alias(
            "tokens_after"
        ),
    )


ADC_BATCH_Q = 4  # query vectors served together (vec_id < 4)
ADC_BATCH_TOPK = 10


def _adc_batch_oracle() -> str:
    pq = _pq_ctes(ADC_M, ADC_K)
    iv, iv_cb, iv_asg, _probed = _ivf_ctes("iv_")
    # the single-query probe CTE is unused here; per-query probes below
    return (
        "WITH "
        + ",\n    ".join(pq + iv)
        + f""",
    bq AS (
        SELECT vec_id AS qid, embedding AS qv FROM embeddings
        WHERE vec_id < {ADC_BATCH_Q}
    ),
    bqc AS (
        SELECT vec_id AS qid, subspace, pos, sv FROM comp
        WHERE vec_id < {ADC_BATCH_Q}
    ),
    bprobe AS (
        SELECT qid, cell FROM (
            SELECT q.qid, c.cell,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round({duck_cosine("c.cvec", "q.qv")}, 6)
                                    DESC,
                                c.cell
                   ) AS rn
            FROM {iv_cb} c CROSS JOIN bq q
        ) WHERE rn <= {ADC_NPROBE}
    ),
    blut AS (
        SELECT q.qid, c.subspace, c.code,
               SUM((q.sv - c.icv) * (q.sv - c.icv)) AS l
        FROM cent{PQ_ITERS - 1} c
        JOIN bqc q ON q.subspace = c.subspace AND q.pos = c.pos
        GROUP BY q.qid, c.subspace, c.code
    ),
    bcand AS (
        SELECT p.qid, a.vec_id FROM {iv_asg} a
        JOIN bprobe p ON a.cell = p.cell
        WHERE a.vec_id <> p.qid
    ),
    scored AS (
        SELECT c.qid, c.vec_id, CAST(SUM(l.l) AS BIGINT) AS adc_dist
        FROM bcand c
        JOIN asg{PQ_ITERS} pc ON pc.vec_id = c.vec_id
        JOIN blut l ON l.qid = c.qid AND l.subspace = pc.subspace
                   AND l.code = pc.code
        GROUP BY c.qid, c.vec_id
    )
    SELECT qid, vec_id, adc_dist FROM (
        SELECT qid, vec_id, adc_dist,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc_dist, vec_id) AS rn
        FROM scored
    ) WHERE rn <= {ADC_BATCH_TOPK}
    """
    )


@query(
    "q_sim_ivf_pq_adc_batch",
    oracle=_adc_batch_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_ivf_pq_adc_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED IVF-PQ ADC serving — q_sim_ivf_pq_adc generalized from
    one query to a query batch (the shape an embedding-search service
    actually runs): ADC_BATCH_Q query vectors route to their own
    ANN_NPROBE cells, build their own subspace LUTs (all in ONE
    aggregate, LUT keyed by qid), and score their candidates in ONE
    join+agg — per-query top-k via a rank window partitioned by qid.

    100 TB / high-QPS shape: batching amortizes every fixed cost — the
    codebook broadcast, the candidate-code scan, the shuffle schedule —
    across Q queries; the per-query LUT table is Q·M·K rows (64 here)
    and stays broadcast to any realistic batch. Candidate volume is
    Σ_q |probed cells(q)|, and the rank window shuffles only scored
    candidates on qid."""
    comp, cent, codes = pq_train(spark, sf_dir, ADC_M, ADC_K)
    cb, members = ivf_train(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    bq = e.filter(F.col("vec_id") < ADC_BATCH_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return _adc_serve_batch(bq, cent, codes, cb, members)


def _adc_serve_batch(
    bq: DataFrame,
    cent: DataFrame,
    codes: DataFrame,
    cb: DataFrame,
    members: DataFrame,
) -> DataFrame:
    """Serve a (qid, qv) query batch against ADC index frames — shared
    by q_sim_ivf_pq_adc_batch (just-trained frames, the full corpus
    batch) and q_stream_index_serve (persisted frames, micro-batches
    of queries). Query LUT components derive from the raw query
    vectors, so the only inputs are the index tables and the batch."""
    pc = F.round(cosine(F.col("cvec"), F.col("qv")), 6)
    wp = Window.partitionBy("qid").orderBy(F.col("pc").desc(), F.col("cell"))
    bprobe = (
        cb.crossJoin(F.broadcast(bq))
        .select("qid", "cell", pc.alias("pc"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= ADC_NPROBE)
        .select("qid", "cell")
    )
    bqc = (
        bq.select(
            "qid",
            F.size("qv").alias("dlen"),
            F.posexplode("qv").alias("pos", "v"),
        )
        .select(
            "qid",
            F.expr(f"CAST((pos * {ADC_M}) DIV dlen AS INT)").alias("subspace"),
            "pos",
            F.floor(F.col("v").cast("double") * 1000).cast("long").alias("qsv"),
        )
    )
    d = F.col("qsv") - F.col("icv")
    blut = (
        cent.join(F.broadcast(bqc), ["subspace", "pos"])
        .groupBy("qid", "subspace", "code")
        .agg(F.sum(d * d).alias("l"))
    )
    bcand = (
        members.join(F.broadcast(bprobe), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    scored = (
        bcand.join(codes.select("vec_id", "subspace", "code"), "vec_id")
        .join(
            F.broadcast(blut), ["qid", "subspace", "code"]
        )
        .groupBy("qid", "vec_id")
        .agg(F.sum("l").alias("adc_dist"))
    )
    wr = Window.partitionBy("qid").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= ADC_BATCH_TOPK)
        .select("qid", "vec_id", "adc_dist")
    )


def _adc_recall_oracle() -> str:
    ctes, final = _adc_parts()
    ctes = ctes + [
        "adc AS (" + final + ")",
        f"""ex AS (
        SELECT e.vec_id FROM embeddings e CROSS JOIN iv_q
        WHERE e.vec_id <> 0
        ORDER BY round({duck_cosine("e.embedding", "iv_q.qv")}, 6) DESC,
                 e.vec_id
        LIMIT {TOPK}
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST({TOPK} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST((COUNT(*) * 1000000) // {TOPK} AS BIGINT) AS recall_ppm
    FROM adc JOIN ex USING (vec_id)
    """
    )


@query(
    "q_sim_adc_recall_audit",
    oracle=_adc_recall_oracle(),
    tags=("llm", "similarity", "audit"),
)
def q_sim_adc_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC recall@k computed IN the engine — the audit row a serving
    stack logs next to every index build (the q_dedup_minhash_estimate
    pattern applied to ANN): run the exact cosine top-k and the IVF-PQ
    ADC top-k in one plan, intersect, and report (k, n_common,
    recall_ppm) as exact integers. tests/test_ann_recall.py pins the
    floor; this key makes the number itself reproducible and
    driver-hash-checked.

    Scale shape: both rankings are TakeOrderedAndProject over already-
    bounded candidate sets; the intersection is a k-row join. The
    expensive parts (PQ + IVF training) are shared builds any real
    deployment amortizes across queries — and the exact arm is the
    one that disappears at 100 TB (it exists precisely to audit the
    approximate arm on a sample)."""
    adc = q_sim_ivf_pq_adc(spark, sf_dir).select("vec_id")
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    cos = cosine(F.col("embedding"), F.col("qv"))
    exact = (
        e.crossJoin(qv)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cos, 6).alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(TOPK)
        .select("vec_id")
    )
    return adc.join(exact, "vec_id").agg(
        F.lit(TOPK).cast("long").alias("k"),
        F.count("*").alias("n_common"),
        F.expr(f"CAST(count(*) * 1000000 DIV {TOPK} AS LONG)").alias(
            "recall_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Diversity sampling: greedy k-center (farthest-point) coreset selection
# ---------------------------------------------------------------------------

KCENTER_K = 5  # seeds selected (vec 0 + 4 farthest-point rounds)


def _kcenter_oracle(kk: int = KCENTER_K) -> str:
    ctes = [
        """kcomp AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000)
                    AS BIGINT) AS sv
        FROM embeddings
    )""",
        "w0 AS (SELECT CAST(0 AS BIGINT) AS round,"
        " CAST(0 AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS d2)",
        "ss0 AS (SELECT vec_id FROM w0)",
    ]
    for r in range(1, kk):
        ctes.append(
            f"""sd{r} AS (
        SELECT c.vec_id, s.vec_id AS seed,
               SUM((c.sv - s.sv) * (c.sv - s.sv)) AS s
        FROM kcomp c
        JOIN kcomp s ON s.pos = c.pos
         AND s.vec_id IN (SELECT vec_id FROM ss{r - 1})
        GROUP BY c.vec_id, s.vec_id
    )"""
        )
        ctes.append(
            f"""m{r} AS (
        SELECT vec_id, MIN(s) AS d2 FROM sd{r}
        WHERE vec_id NOT IN (SELECT vec_id FROM ss{r - 1})
        GROUP BY vec_id
    )"""
        )
        ctes.append(
            f"""w{r} AS (
        SELECT CAST({r} AS BIGINT) AS round, vec_id,
               CAST(d2 AS BIGINT) AS d2
        FROM m{r} ORDER BY d2 DESC, vec_id LIMIT 1
    )"""
        )
        ctes.append(
            f"ss{r} AS (SELECT vec_id FROM ss{r - 1}"
            f" UNION ALL SELECT vec_id FROM w{r})"
        )
    union = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM w{r}" for r in range(kk)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + union


@query(
    "q_sample_kcenter",
    oracle=_kcenter_oracle(),
    tags=("llm", "curation", "iterative"),
)
def q_sample_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) selection — DIVERSITY sampling
    for training-data curation: starting from vec 0, each round selects
    the vector farthest (max of min squared distance, ties to smallest
    id) from everything selected so far. The classic 2-approximation to
    the k-center cover, and the canonical "spread seeds" step for
    coreset construction / k-means++-style init / dedup-aware
    subsampling. All distances in int64 milli-units: every round is
    reproduced bit-for-bit by the unrolled DuckDB CTE.

    Per round: candidates join the SELECTED side's components
    (broadcast — k·d rows), one (vec, seed) distance agg, one min agg,
    one 1-row TakeOrderedAndProject winner unioned into the seed set
    (never collected). 100 TB: the per-round scan is one pass over
    component rows against a broadcast seed table — the standard
    distributed k-center; rounds are inherently sequential, so real
    deployments batch several farthest picks per pass (same plan with
    a rank window instead of LIMIT 1)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    kcomp = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        "pos",
        F.floor(F.col("v").cast("double") * 1000).cast("long").alias("sv"),
    ).localCheckpoint()
    seeds = spark.createDataFrame(
        [(0, 0, 0)], "round long, vec_id long, d2 long"
    )
    # Incremental min-distance state (guide §1.2: don't recompute):
    # round r only measures distances to the ONE seed added in round
    # r-1 and folds them into the running per-vector minimum —
    # min(best, d(new seed)) — instead of re-aggregating the full
    # vec × seed-set product every round. Identical integers, O(n·d)
    # per round instead of O(n·d·r).
    best = None
    for r in range(1, KCENTER_K):
        newest = seeds.filter(F.col("round") == r - 1).select("vec_id")
        seedcomp = kcomp.join(
            F.broadcast(newest), "vec_id", "left_semi"
        ).select("pos", F.col("sv").alias("ssv"))
        diff = F.col("sv") - F.col("ssv")
        sd = (
            kcomp.join(F.broadcast(seedcomp), "pos")
            .groupBy("vec_id")
            .agg(F.sum(diff * diff).alias("s"))
        )
        if best is None:
            best = sd.select("vec_id", F.col("s").alias("d2"))
        else:
            best = best.join(sd, "vec_id").select(
                "vec_id", F.least("d2", "s").alias("d2")
            )
        best = best.localCheckpoint(eager=False)
        w = (
            best.join(seeds.select("vec_id"), "vec_id", "left_anti")
            .orderBy(F.col("d2").desc(), "vec_id")
            .limit(1)
            .select(
                F.lit(r).cast("long").alias("round"),
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("d2").cast("long").alias("d2"),
            )
        )
        seeds = seeds.unionByName(w).localCheckpoint()
    return seeds


def _span_cascade_oracle() -> str:
    pre = """reps AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
    ),
    survivors AS (
        SELECT d.* FROM documents d JOIN reps r USING (doc_id)
    ),
    """
    return (
        _span_prefix_cte(table="survivors", pre=pre)
        + f""",
    keep AS (
        SELECT h, MIN(doc_id) AS keeper FROM hs
        WHERE h IN (SELECT h FROM dup) GROUP BY h
    ),
    strippable AS (
        SELECT s.doc_id, s.pos
        FROM hs s JOIN keep k ON s.h = k.h AND s.doc_id <> k.keeper
    ),
    sbrk AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos) > {SPAN_K}
                    OR lag(pos) OVER (PARTITION BY doc_id
                                      ORDER BY pos) IS NULL
                    THEN 1 ELSE 0 END AS b
        FROM strippable
    ),
    sisl AS (
        SELECT doc_id, pos,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
        FROM sbrk
    ),
    per_doc AS (
        SELECT doc_id, SUM(span_tokens) AS stripped FROM (
            SELECT doc_id, MAX(pos) - MIN(pos) + {SPAN_K} AS span_tokens
            FROM sisl GROUP BY doc_id, island
        ) GROUP BY doc_id
    ),
    surv_stats AS (
        SELECT t.source,
               COUNT(*) AS n_survivors,
               SUM(len(t.t)) AS surv_tokens,
               COALESCE(SUM(p.stripped), 0) AS tokens_stripped
        FROM toks t LEFT JOIN per_doc p USING (doc_id)
        GROUP BY t.source
    ),
    all_stats AS (
        SELECT source, COUNT(*) AS n_docs,
               SUM(len(str_split(lower(text), ' '))) AS tokens_in
        FROM documents GROUP BY source
    )
    SELECT a.source,
           CAST(a.n_docs AS BIGINT) AS n_docs,
           CAST(a.n_docs - s.n_survivors AS BIGINT) AS n_exact_dropped,
           CAST(a.tokens_in AS BIGINT) AS tokens_in,
           CAST(s.tokens_stripped AS BIGINT) AS tokens_stripped,
           CAST(s.surv_tokens - s.tokens_stripped AS BIGINT) AS tokens_out
    FROM all_stats a JOIN surv_stats s USING (source)
    """
    )


@query(
    "q_curate_span_cascade",
    oracle=_span_cascade_oracle(),
    tags=("llm", "dedup", "curation"),
)
def q_curate_span_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage dedup CASCADE a production curation run executes:
    (1) exact dedup — content-hash groups keep their min-doc_id
    representative; (2) substring-level span STRIPPING over the
    survivors only (recomputing the duplicate-shingle vocabulary on
    the post-exact corpus — stripping against pre-dedup statistics
    would double-count the exact copies). Per-source report: docs in,
    exact copies dropped, tokens in, tokens stripped, tokens out — the
    stage-by-stage shrinkage accounting a dataset card cites.

    Shape (round 15, guide §2.4 — one pass per stage instead of
    re-derived branches): stage 1's keeper election is a min-over-th
    WINDOW on the scan itself (was groupBy + LEFT-SEMI join back — a
    second full documents pass; the window moves the same one
    payload-carrying exchange the join did, minus the extra scan).
    Stage 2 aggregates the shingle explode ONCE at (h, doc_id) grain
    with collected positions, reads the duplicate vocabulary off a
    count/min window over h, and explodes positions back — the old
    groupBy(h) + join-back re-ran the whole posexplode chain a second
    time (no CSE across branches). Same survivor set (min doc_id per
    content hash), same strippable (doc_id, pos) multiset, bit-equal
    aggregates. Cascade order is the cost optimization: exact dedup is
    the cheapest stage and every doc it drops never enters the shingle
    explode."""
    d = load_table(spark, sf_dir, "documents")
    w_th = Window.partitionBy(F.sha2("text", 256))
    surv = (
        d.withColumn("_keep", F.col("doc_id") == F.min("doc_id").over(w_th))
        .filter(F.col("_keep"))
        .drop("_keep")
    )
    k = SPAN_K
    sh = surv.select(
        "doc_id", F.posexplode(_positioned_shingle_col(k))
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("pos"),
        span_hash(F.col("col")).alias("h"),
    )
    w_h = Window.partitionBy("h")
    g = (
        sh.groupBy("h", "doc_id")
        .agg(F.collect_list("pos").alias("ps"))
        .withColumn("nd", F.count("*").over(w_h))
        .withColumn("keeper", F.min("doc_id").over(w_h))
    )
    strippable = (
        g.filter((F.col("nd") >= 2) & (F.col("doc_id") != F.col("keeper")))
        .select("doc_id", F.explode("ps").alias("pos"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    sbrk = strippable.withColumn(
        "b",
        F.when(
            (F.col("pos") - F.lag("pos").over(w) > k)
            | F.lag("pos").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sisl = sbrk.withColumn(
        "island",
        F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_doc = (
        sisl.groupBy("doc_id", "island")
        .agg((F.max("pos") - F.min("pos") + k).alias("span_tokens"))
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("stripped"))
    )
    # One stats pass over the keeper-window scan (round 15, guide
    # §2.4): the all-docs and survivor aggregates fold into a single
    # conditional groupBy — the old form ran the survivor window
    # subtree a second time for surv_stats plus a third documents scan
    # for all_stats. per_doc only holds survivor docs (strippable ⊆
    # survivors), so the left join + `when(_keep, …)` aggregates are
    # exactly the two old branches.
    stats = (
        d.withColumn("_keep", F.col("doc_id") == F.min("doc_id").over(w_th))
        .select("doc_id", "source", "_keep", F.size(tokens("text")).alias("nt"))
        .join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("tokens_in"),
            F.count(F.when(F.col("_keep"), 1)).alias("n_survivors"),
            F.sum(F.when(F.col("_keep"), F.col("nt"))).alias("surv_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("_keep"), F.col("stripped"))), F.lit(0)
            ).alias("tokens_stripped"),
        )
    )
    # A source whose every document is an exact copy of a lower-doc_id
    # document elsewhere has no survivors and no report row, as in the
    # oracle's all_stats ⋈ surv_stats.
    return stats.filter(F.col("n_survivors") > 0).select(
        "source",
        "n_docs",
        (F.col("n_docs") - F.col("n_survivors")).alias("n_exact_dropped"),
        "tokens_in",
        "tokens_stripped",
        (F.col("surv_tokens") - F.col("tokens_stripped")).alias("tokens_out"),
    )


# ---------------------------------------------------------------------------
# Binary (1-bit) quantization + Hamming top-k rerank candidates
# ---------------------------------------------------------------------------

BINQ_TOPK = 20


def _binq_sig_sql(emb: str) -> str:
    """64-dim float vector -> one signed BIGINT of sign bits (bit j set
    iff component j >= 0), identical in DuckDB. Bit 63 would flip the
    BIGINT sign; both engines compute the same two's-complement value
    from the same sum, so equality/xor stay exact."""
    terms = " + ".join(
        f"(CASE WHEN {emb}[{j + 1}] >= 0 THEN CAST({1 << j} AS HUGEINT)"
        " ELSE 0 END)"
        for j in range(EMB_DIM)
    )
    # two's-complement wrap: DuckDB CAST raises on int64 overflow
    return (
        f"CAST((CASE WHEN ({terms}) >= CAST({1 << 63} AS HUGEINT)"
        f" THEN ({terms}) - CAST({1 << 64} AS HUGEINT)"
        f" ELSE ({terms}) END) AS BIGINT)"
    )


@query(
    "q_embed_binary_hamming_topk",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, {_binq_sig_sql('embedding')} AS bsig FROM embeddings
    ),
    q AS (SELECT bsig AS qsig FROM sig WHERE vec_id = 0)
    SELECT s.vec_id,
           CAST(bit_count(xor(s.bsig, q.qsig)) AS INTEGER)
               AS hamming
    FROM sig s CROSS JOIN q
    WHERE s.vec_id <> 0
    ORDER BY bit_count(xor(s.bsig, q.qsig)), s.vec_id
    LIMIT {BINQ_TOPK}
    """,
    tags=("llm", "similarity", "vector"),
)
def q_embed_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY (1-bit) quantization search — the third rung of the
    quantization ladder (float32 → int8 → PQ codes → sign bits): each
    64-dim vector packs to ONE int64 of sign bits (64× smaller than
    float32), and candidate retrieval is a linear scan of 8-byte
    signatures ranked by Hamming distance to the query signature —
    the first-stage filter modern vector stores run before exact
    rerank (for unit vectors, Hamming ≈ monotone in angular distance).

    Scale shape: signature build is a pure Catalyst fold (no shuffle);
    the scan reads 8 bytes/vector + xor + popcount inside whole-stage
    codegen, and top-k is TakeOrderedAndProject — this is the fastest
    possible full-scan ANN arm, and it composes with the IVF route
    (probe cells, THEN Hamming-scan the inverted lists) unchanged."""
    e = load_table(spark, sf_dir, "embeddings")
    # Signature arithmetic is pure int64 (was a 64-term DECIMAL(38,0)
    # chain — decimal128 adds run outside the fast codegen arithmetic
    # and cost ~65 128-bit ops/row): bits 0..62 sum inside a signed
    # long (≤ 2^63 − 1), and bit 63 is the sign bit, i.e. two's
    # complement adds −2^63 exactly when it is set — same wrapped
    # value as the decimal form, bit for bit (guide §1.2: per-task
    # work, expression choice).
    low = None
    for j in range(EMB_DIM - 1):
        t = F.when(
            F.element_at("embedding", j + 1) >= 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        low = t if low is None else low + t
    wrapped = F.when(
        F.element_at("embedding", EMB_DIM) >= 0,
        low + F.lit(-(1 << 63)).cast("long"),
    ).otherwise(low)
    sig = e.select("vec_id", wrapped.alias("bsig"))
    q = F.broadcast(
        sig.filter(F.col("vec_id") == 0).select(F.col("bsig").alias("qsig"))
    )
    ham = F.bit_count(F.expr("bsig ^ qsig")).cast("int")
    return (
        sig.crossJoin(q)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", ham.alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(BINQ_TOPK)
    )


# ---------------------------------------------------------------------------
# Sampling design: Neyman (variance-proportional) allocation
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 100  # total sample rows to allocate across strata


@query(
    "q_sample_neyman",
    oracle=f"""
    WITH s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_h,
               CAST(SUM(n_chars) AS BIGINT) AS sx,
               CAST(SUM(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY source
    ),
    v AS (
        SELECT source, n_h,
               CAST(FLOOR(sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE)))
                    AS BIGINT) AS nsd_scaled
        FROM s
    ),
    t AS (SELECT CAST(SUM(nsd_scaled) AS BIGINT) AS tot FROM v)
    SELECT v.source, v.n_h, v.nsd_scaled,
           CAST({NEYMAN_BUDGET} * v.nsd_scaled // t.tot AS BIGINT)
               AS n_alloc
    FROM v CROSS JOIN t
    """,
    tags=("llm", "curation", "sampling"),
)
def q_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN ALLOCATION — the optimal stratified-sampling design:
    a fixed sample budget splits across strata proportionally to
    N_h · S_h (stratum size × stratum std-dev), so high-variance
    sources get proportionally more rows — the design that minimizes
    the stratified estimator's variance (vs q_sample_stratified's
    equal-rate draw). Emits the allocation table a sampling job
    consumes; all sums are exact int64, N_h·S_h enters as
    floor(sqrt(n·Σx² − (Σx)²)) — IEEE sqrt is correctly rounded, so
    the value is engine-identical.

    Shape: one map-side-combinable hash agg (three sums per stratum),
    one tiny cross join against the scalar total. At 100 TB this is
    the cheapest possible design pass — one scan — and the allocation
    feeds q_sample_stratified-style per-stratum draws."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_h"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars").cast("long") * F.col("n_chars")).alias("sxx"),
    )
    v = s.select(
        "source",
        "n_h",
        F.floor(
            F.sqrt(
                (F.col("n_h") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
            )
        )
        .cast("long")
        .alias("nsd_scaled"),
    )
    t = v.agg(F.sum("nsd_scaled").alias("tot"))
    return v.crossJoin(F.broadcast(t)).select(
        "source",
        "n_h",
        "nsd_scaled",
        F.expr(f"CAST({NEYMAN_BUDGET} * nsd_scaled DIV tot AS LONG)").alias(
            "n_alloc"
        ),
    )


def _ivf_report_oracle() -> str:
    iv, _cb, iv_asg, _probed = _ivf_ctes("iv_")
    # the probe CTE rides along unused; DuckDB does not evaluate
    # unreferenced CTEs
    return (
        "WITH "
        + ",\n    ".join(iv)
        + f""",
    occ AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM {iv_asg} GROUP BY cell
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(n_vecs) AS BIGINT) AS n_total,
               CAST(MAX(n_vecs) AS BIGINT) AS max_occ
        FROM occ
    )
    SELECT o.cell, o.n_vecs,
           CAST((1000000 * o.n_vecs * t.n_cells) // t.n_total AS BIGINT)
               AS occ_ratio_ppm,
           CAST((1000000 * t.max_occ * t.n_cells) // t.n_total AS BIGINT)
               AS imbalance_ppm
    FROM occ o CROSS JOIN tot t
    """
    )


@query(
    "q_embed_ivf_build_report",
    oracle=_ivf_report_oracle(),
    tags=("llm", "similarity", "audit"),
)
def q_embed_ivf_build_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-build HEALTH report — per-cell inverted-list occupancy
    plus the imbalance factor (max cell ÷ mean cell, ppm), the number
    that predicts probe-latency variance: a cell at 10× mean occupancy
    makes every query probing it 10× slower, and the fix (split hot
    cells / re-train with more centroids) is an index-build decision
    this report drives. Same audit-as-data pattern as
    q_sim_adc_recall_audit, over the session-cached trained quantizer.

    Shape: one hash agg over the (vec, cell) assignment + a 1-row
    scalar broadcast — free next to the training it audits."""
    _cb, members = ivf_train(spark, sf_dir)
    occ = members.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    tot = occ.agg(
        F.count("*").alias("n_cells"),
        F.sum("n_vecs").alias("n_total"),
        F.max("n_vecs").alias("max_occ"),
    )
    return occ.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vecs",
        F.expr("CAST((1000000 * n_vecs * n_cells) DIV n_total AS LONG)").alias(
            "occ_ratio_ppm"
        ),
        F.expr(
            "CAST((1000000 * max_occ * n_cells) DIV n_total AS LONG)"
        ).alias("imbalance_ppm"),
    )


def _retrieval_metrics_oracle() -> str:
    ctes, final = _adc_parts()
    ctes = ctes + [
        "adc AS (" + final + ")",
        """ranked AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
        FROM adc
    )""",
        f"""ex AS (
        SELECT e.vec_id FROM embeddings e CROSS JOIN iv_q
        WHERE e.vec_id <> 0
        ORDER BY round({duck_cosine("e.embedding", "iv_q.qv")}, 6) DESC,
                 e.vec_id
        LIMIT {TOPK}
    )""",
        """hits AS (
        SELECT r.rn FROM ranked r JOIN ex USING (vec_id)
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST({TOPK} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COUNT(*) * 1000000 // {TOPK} AS BIGINT) AS precision_ppm,
           CAST(COALESCE(MIN(rn), 0) AS BIGINT) AS first_hit_rank,
           CAST(CASE WHEN MIN(rn) IS NULL THEN 0
                     ELSE 1000000 // MIN(rn) END AS BIGINT) AS mrr_ppm
    FROM hits
    """
    )


@query(
    "q_eval_retrieval_metrics",
    oracle=_retrieval_metrics_oracle(),
    tags=("llm", "similarity", "audit"),
)
def q_eval_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard RETRIEVAL metrics for the ANN stack, computed in-engine
    (extends q_sim_adc_recall_audit's single recall number): the ADC
    ranking scored against the exact-cosine relevance set as
    precision@k, first-hit rank, and MRR — all exact integers (ppm),
    the eval row a retrieval service logs per index build. One query
    here; the multi-query form rides q_sim_ivf_pq_adc_batch's qid
    partitions with the same rank window."""
    adc = q_sim_ivf_pq_adc(spark, sf_dir)
    wr = Window.orderBy("adc_dist", "vec_id")
    ranked = adc.select("vec_id", "adc_dist").withColumn(
        "rn", F.row_number().over(wr)
    )
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    cos = cosine(F.col("embedding"), F.col("qv"))
    exact = (
        e.crossJoin(qv)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cos, 6).alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(TOPK)
        .select("vec_id")
    )
    hits = ranked.join(exact, "vec_id")
    return hits.agg(
        F.lit(TOPK).cast("long").alias("k"),
        F.count("*").alias("n_hits"),
        F.expr(f"CAST(count(*) * 1000000 DIV {TOPK} AS LONG)").alias(
            "precision_ppm"
        ),
        F.coalesce(F.min("rn"), F.lit(0)).cast("long").alias("first_hit_rank"),
        F.expr(
            "CAST(CASE WHEN min(rn) IS NULL THEN 0"
            " ELSE 1000000 DIV min(rn) END AS LONG)"
        ).alias("mrr_ppm"),
    )


# ---------------------------------------------------------------------------
# Curation: quality x length binning and soft-dedup reweighting
# ---------------------------------------------------------------------------

QBIN_DECILES = 10
_LEN_BUCKETS = ((0, 64, "short"), (64, 256, "medium"), (256, 1 << 62, "long"))


def _len_bucket_sql(col: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {col} >= {lo} AND {col} < {hi} THEN '{name}'"
            for lo, hi, name in _LEN_BUCKETS
        )
        + " END"
    )


@query(
    "q_curate_quality_bins",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, str_split(lower(text), ' ') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               len(list_distinct(toks)) * 1000 // len(toks) AS uniq_permille
        FROM t
    ),
    binned AS (
        SELECT *,
               ntile({QBIN_DECILES}) OVER (
                   ORDER BY uniq_permille, doc_id
               ) AS quality_decile,
               {_len_bucket_sql("n_tokens")} AS len_bucket
        FROM scored
    ),
    corpus AS (SELECT SUM(n_tokens) AS total FROM binned)
    SELECT CAST(quality_decile AS BIGINT) AS quality_decile, len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           CAST(SUM(n_tokens) * 1000000 // (SELECT total FROM corpus)
                AS BIGINT) AS token_share_ppm
    FROM binned GROUP BY 1, 2
    """,
    tags=("llm", "curation"),
)
def q_curate_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality × length BINNING TABLE — the grid a data-mixing run
    samples from (quality-curriculum training draws by decile, length
    bucketing feeds the packing stage): docs ranked by an integer
    quality surrogate (type/token ratio in permille — deterministic
    total order with doc_id tiebreak, so ntile agrees bit-for-bit
    across engines), cut into deciles, crossed with 3 length buckets;
    per cell: docs, tokens, and corpus token share in ppm.

    100 TB shape: scoring is a per-row map; ntile is ONE total-order
    sort — the honest global stage (same cost class as
    q_curate_token_budget's fill, and the documented alternative is
    approx_percentile cuts when a 1e9-doc exact decile edge isn't
    worth a sort); the final rollup is a ≤30-row hash agg."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scored = d.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.expr(
            "size(array_distinct(split(lower(text), ' '))) * 1000"
            " div size(split(lower(text), ' '))"
        ).alias("uniq_permille"),
    )
    w = Window.orderBy("uniq_permille", "doc_id")
    binned = scored.select(
        "*",
        F.ntile(QBIN_DECILES).over(w).alias("quality_decile"),
    ).withColumn(
        "len_bucket",
        F.when(F.col("n_tokens") < 64, "short")
        .when(F.col("n_tokens") < 256, "medium")
        .otherwise("long"),
    )
    total = binned.agg(F.sum("n_tokens").alias("total"))
    return (
        binned.groupBy(
            F.col("quality_decile").cast("long").alias("quality_decile"),
            "len_bucket",
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "quality_decile",
            "len_bucket",
            "n_docs",
            "tokens",
            F.expr("tokens * 1000000 div total").alias("token_share_ppm"),
        )
    )


SOFTDEDUP_SCALE = 1_000_000


@query(
    "q_curate_dedup_softweight",
    oracle=f"""
    WITH cl AS (
        SELECT doc_id, source, text,
               COUNT(*) OVER (PARTITION BY text) AS cluster_size,
               len(str_split(lower(text), ' ')) AS n_tokens
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_raw,
           CAST(SUM(n_tokens * ({SOFTDEDUP_SCALE} // cluster_size))
                // {SOFTDEDUP_SCALE} AS BIGINT) AS tokens_effective
    FROM cl GROUP BY source
    """,
    tags=("llm", "dedup", "curation"),
)
def q_curate_dedup_softweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup — reweight instead of drop (the SlimPajama/SoftDeDup
    move): every exact-duplicate cluster keeps ALL copies but each
    carries sampling weight 1/cluster_size, so the cluster contributes
    one document's worth of expected tokens to training. Per-source
    report: docs, docs in nontrivial clusters, raw tokens, and
    effective (weighted) tokens — the corpus the sampler actually
    sees. Weights are SCALE-quantized int64 (1e6 div size), exact in
    both engines.

    100 TB shape: cluster sizing is one window/agg on the content key
    (hash the text in production — grouping on raw text here keeps the
    oracle trivially readable, same shuffle); the rollup is a
    per-source hash agg. No sort, no join, no candidate explosion —
    soft dedup is the cheapest dedup there is, which is its point."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text")
    cl = d.select(
        "source",
        F.count("*").over(w).alias("cluster_size"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    return cl.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("cluster_size") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_docs"),
        F.sum("n_tokens").alias("tokens_raw"),
        F.expr(
            f"CAST(sum(n_tokens * ({SOFTDEDUP_SCALE} div cluster_size))"
            f" div {SOFTDEDUP_SCALE} AS LONG)"
        ).alias("tokens_effective"),
    )


def _bpe_encode_oracle(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    # MATERIALIZED: each et{r} is referenced by both the pair-count and
    # the rewrite CTE of its round — DuckDB 1.0 would otherwise inline
    # the whole upstream chain per reference (the q_attribution_markov
    # lesson, same engine behavior).
    ctes = [
        "et1 AS MATERIALIZED (SELECT doc_id,"
        " str_split(lower(text), ' ') AS t FROM documents)"
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""ep{r} AS (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS pair
        FROM et{r} WHERE len(t) >= 2
    )"""
        )
        ctes.append(
            f"""eb{r} AS (
        SELECT pair FROM ep{r}
        WHERE str_split(pair, ' ')[1] <> str_split(pair, ' ')[2]
        GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT 1
    )"""
        )
        rew = _bpe_rewrite_sql(
            "t",
            f"str_split(eb{r}.pair, ' ')[1]",
            f"str_split(eb{r}.pair, ' ')[2]",
        )
        ctes.append(
            f"""et{r + 1} AS MATERIALIZED (
        SELECT doc_id, {rew} AS t
        FROM et{r} CROSS JOIN eb{r}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT a.doc_id,
           CAST(len(a.t) AS BIGINT) AS tokens_before,
           CAST(len(b.t) AS BIGINT) AS tokens_after,
           CAST((len(a.t) - len(b.t)) * 1000000 // len(a.t) AS BIGINT)
               AS saved_ppm
    FROM et1 a JOIN et{rounds + 1} b USING (doc_id)
    """
    )


@query(
    "q_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("llm", "text", "iterative"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the apply side of q_bpe_train: run the learned
    merge sequence over every document and report per-doc token counts
    before/after plus the ppm saved. This is the number a tokenizer
    change is judged by (tokens = training cost), computed per doc so
    the win can be sliced by source/length downstream; the training
    keys report only corpus totals.

    Shape per round: the 1-row winning pair broadcasts and the rewrite
    is a pure per-row map (positional greedy merge — non-self pairs
    cannot self-overlap, so one pass is exact); lineage is cut per
    round with localCheckpoint exactly like the training loop. At
    100 TB the pair-count shuffle (vocabulary-bounded, map-side
    combined) dominates; encoding itself never shuffles."""
    states, _bests = bpe_rounds(spark, sf_dir)
    before = states[0].select(
        "doc_id", F.size("t").cast("long").alias("tokens_before")
    )
    cur = states[-1]
    after = cur.select("doc_id", F.size("t").cast("long").alias("tokens_after"))
    return before.join(after, "doc_id").select(
        "doc_id",
        "tokens_before",
        "tokens_after",
        F.expr(
            "CAST((tokens_before - tokens_after) * 1000000"
            " div tokens_before AS LONG)"
        ).alias("saved_ppm"),
    )


@query(
    "q_sim_index_persist",
    oracle=_adc_oracle(),
    tags=("llm", "similarity", "index"),
)
def q_sim_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index PERSISTENCE round-trip — the deployment step every ANN
    build ends with: the four trained index artifacts (PQ codebook,
    per-vector PQ codes, IVF coarse codebook, inverted lists) are
    WRITTEN to parquet tables, reloaded as ordinary DataFrames, and
    the SAME ADC query is served from the reloaded index. The oracle
    is q_sim_ivf_pq_adc's, verbatim: persisted serving must be
    bit-identical to just-trained serving, or the index format lost
    information (array columns, int64 milli-units, and cell ids all
    survive the parquet round-trip).

    100 TB shape: the artifacts ARE the serving dataset — codes
    partition by coarse cell at rest so a probe is a partition-pruned
    scan; codebooks are broadcast-size by construction. Training
    happens once, serving reads only these tables — which this key
    proves by construction (its serving plan's only other input is the
    query vector)."""
    cent, codes, cb, members = load_persisted_index(spark, sf_dir)
    return _adc_serve(spark, sf_dir, cent, codes, cb, members, TOPK)


@session_cached
def persisted_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per session, sf) the four index artifacts to parquet
    and return the root — shared by q_sim_index_persist and the
    streaming serving key."""
    import os

    comp, cent, codes = pq_train(spark, sf_dir, ADC_M, ADC_K)
    cb, members = ivf_train(spark, sf_dir)
    root = tracked_mkdtemp(prefix="ann_index_")
    cent.write.parquet(os.path.join(root, "pq_codebook"))
    codes.write.parquet(os.path.join(root, "pq_codes"))
    cb.write.parquet(os.path.join(root, "ivf_codebook"))
    # inverted lists partitioned BY CELL at rest: a probe of
    # ADC_NPROBE cells is a partition-pruned scan, never a full read
    members.write.partitionBy("cell").parquet(
        os.path.join(root, "ivf_members")
    )
    return root


def load_persisted_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    import os

    root = persisted_index_dir(spark, sf_dir)
    return (
        spark.read.parquet(os.path.join(root, "pq_codebook")),
        spark.read.parquet(os.path.join(root, "pq_codes")),
        spark.read.parquet(os.path.join(root, "ivf_codebook")),
        spark.read.parquet(os.path.join(root, "ivf_members")),
    )


@query(
    "q_text_quality_tertiles",
    oracle="""
    WITH tok AS (
        SELECT d.doc_id, unnest(str_split(lower(d.text), ' ')) AS tok
        FROM documents d
    ),
    freq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM tok GROUP BY tok
    ),
    doc_score AS (
        SELECT t.doc_id,
               CAST(SUM(length(printf('%b', f.freq)) - 1) * 1000
                    // COUNT(*) AS BIGINT) AS score_milli,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM tok t JOIN freq f ON t.tok = f.tok
        GROUP BY t.doc_id
    ),
    hist AS (
        SELECT score_milli, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM doc_score GROUP BY score_milli
    ),
    cum AS (
        SELECT score_milli,
               SUM(cnt) OVER (ORDER BY score_milli) AS cum_docs,
               SUM(cnt) OVER () AS n_total
        FROM hist
    ),
    bounds AS (
        SELECT MIN(CASE WHEN cum_docs >= (n_total + 2) // 3
                        THEN score_milli END) AS t1,
               MIN(CASE WHEN cum_docs >= (2 * n_total + 2) // 3
                        THEN score_milli END) AS t2
        FROM cum
    )
    SELECT CASE WHEN s.score_milli >= b.t2 THEN 'head'
                WHEN s.score_milli >= b.t1 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s.n_tokens) AS BIGINT) AS sum_tokens,
           MIN(s.score_milli) AS min_score_milli,
           MAX(s.score_milli) AS max_score_milli
    FROM doc_score s CROSS JOIN bounds b
    GROUP BY 1
    """,
    tags=("llm", "text", "curation"),
)
def q_text_quality_tertiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus partition (Wenzek et al.
    2020): every document scored by its mean unigram log-frequency (the
    cheap perplexity proxy of q_text_logfreq_score, here in exact
    integer milli-units), then split at the empirical tertiles —
    'head' = most corpus-typical docs, 'tail' = rare-token docs, the
    slice quality-filter pipelines keep/drop/re-LM first. Tertile
    boundaries are EXACT rank statistics (min score whose cumulative
    doc count reaches ⌈n/3⌉ / ⌈2n/3⌉), not interpolated percentiles —
    no float quantile whose last bit could differ between engines; ties
    share a bucket, so bucket sizes are near-thirds, deterministically.

    100 TB shape: token-frequency agg and per-doc scoring are the
    q_text_logfreq_score plan (fact-scale map-combined aggs + one
    Zipf-headed join). The tertile step never sorts the doc frame: it
    aggregates scores into a BOUNDED histogram (score_milli spans
    0..~15·1000, one row per distinct milli-score, regardless of corpus
    size), runs the cumulative sum on those ≤~15k rows in one
    partition, and broadcasts the two boundary scalars back — a global
    exact quantile at 100 TB for the cost of a tiny window."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("freq"))
    bucket = (
        F.length(F.conv(F.col("freq").cast("string"), 10, 2)) - 1
    ).cast("long")
    doc_score = (
        tok.join(freq.select("tok", bucket.alias("b")), "tok")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(SUM(b) * 1000 div COUNT(*) AS BIGINT)").alias(
                "score_milli"
            ),
            F.count("*").alias("n_tokens"),
        )
    )
    hist = doc_score.groupBy("score_milli").agg(F.count("*").alias("cnt"))
    wcum = Window.orderBy("score_milli").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "score_milli",
        F.sum("cnt").over(wcum).alias("cum_docs"),
        F.sum("cnt").over(wall).alias("n_total"),
    )
    bounds = cum.agg(
        F.min(
            F.when(
                F.col("cum_docs") >= F.expr("(n_total + 2) div 3"),
                F.col("score_milli"),
            )
        ).alias("t1"),
        F.min(
            F.when(
                F.col("cum_docs")
                >= F.expr("(2 * n_total + 2) div 3"),
                F.col("score_milli"),
            )
        ).alias("t2"),
    )
    labeled = doc_score.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("score_milli") >= F.col("t2"), F.lit("head"))
        .when(F.col("score_milli") >= F.col("t1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        "n_tokens",
        "score_milli",
    )
    return labeled.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("score_milli").alias("min_score_milli"),
        F.max("score_milli").alias("max_score_milli"),
    )


# Poisson(1) bootstrap: replica count and the inverse-CDF thresholds
# (cumulative pmf × 2³², floored — frozen integer constants so Spark and
# DuckDB draw IDENTICAL weights from the same 32-bit hash).
BOOT_B = 64
_POIS_T = (
    1580030168,  # P(X<=0)
    3160060337,  # P(X<=1)
    3950075421,  # P(X<=2)
    4213413783,  # P(X<=3)
    4279248373,  # P(X<=4)
    4292415291,  # P(X<=5)
    4294609777,  # P(X<=6)
    4294923276,  # P(X<=7) ; else weight 8
)


def _pois_case(u: str) -> str:
    """SQL CASE ladder mapping a uniform 32-bit hash to a Poisson(1)
    draw via the frozen thresholds (shared by Spark expr and oracle)."""
    whens = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {whens} ELSE 8 END"


@query(
    "q_eval_bootstrap_ci",
    oracle=f"""
    WITH draws AS (
        SELECT d.source, d.n_chars, b.b,
               {_pois_case(duck_hex_hash("concat(CAST(d.doc_id AS VARCHAR), ':', CAST(b.b AS VARCHAR))"))} AS w
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, {BOOT_B - 1})) AS b) b
    ),
    reps AS (
        SELECT source, b,
               CAST(SUM(w * n_chars) * 1000 // SUM(w) AS BIGINT) AS mean_milli
        FROM draws GROUP BY source, b
        HAVING SUM(w) > 0
    ),
    ranked AS (
        SELECT source, mean_milli,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY mean_milli, b) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n_reps
        FROM reps
    ),
    ci AS (
        SELECT source,
               MIN(CASE WHEN rk = CAST(CEIL(0.025 * n_reps) AS BIGINT)
                        THEN mean_milli END) AS lo_milli,
               MIN(CASE WHEN rk = CAST(CEIL(0.975 * n_reps) AS BIGINT)
                        THEN mean_milli END) AS hi_milli
        FROM ranked GROUP BY source
    ),
    pt AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) * 1000 // COUNT(*) AS BIGINT) AS mean_milli
        FROM documents GROUP BY source
    )
    SELECT p.source, p.n_docs, p.mean_milli, c.lo_milli, c.hi_milli
    FROM pt p JOIN ci c USING (source)
    """,
    tags=("llm", "eval"),
)
def q_eval_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence intervals for a per-group corpus metric
    (mean doc length by source), via the POISSON bootstrap — the only
    bootstrap that works at 100 TB: instead of resampling n rows per
    replica (impossible without a global index), every row draws an
    independent Poisson(1) weight per replica from a deterministic
    md5 hash of (doc_id, replica), and each replica's mean is the
    weighted mean (the classic at-scale formulation — Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012).
    Weights come from a frozen integer inverse-CDF ladder, replica
    means are exact int64 milli-units, and the 95% CI is an exact rank
    statistic (⌈0.025·B⌉ / ⌈0.975·B⌉-th smallest of the B=64 replica
    means) — every byte engine-reproducible, no RNG, no float quantile.

    100 TB shape: the ×B expansion is MAP-ONLY (explode + hash + CASE,
    no Python); partial aggregation combines to (group × B) rows before
    the only shuffle, so shuffle volume is independent of the fact
    size. The CI step windows over ≤B rows per group. B is the
    cost/precision dial; replicas with zero total weight (only possible
    for near-empty groups) drop out and the rank indices adapt."""
    d = load_table(spark, sf_dir, "documents")
    draws = d.select(
        "source",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
        "doc_id",
    ).select(
        "source",
        "n_chars",
        "b",
        F.expr(
            _pois_case(
                "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), "
                "':', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            )
        ).alias("w"),
    )
    reps = (
        draws.groupBy("source", "b")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).alias("sws"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "source",
            "b",
            F.expr("CAST(sws * 1000 div sw AS BIGINT)").alias("mean_milli"),
        )
    )
    wr = Window.partitionBy("source").orderBy("mean_milli", "b")
    wn = Window.partitionBy("source")
    ranked = reps.select(
        "source",
        "mean_milli",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("n_reps"),
    )
    ci = ranked.groupBy("source").agg(
        F.min(
            F.when(
                F.col("rk")
                == F.ceil(F.lit(0.025) * F.col("n_reps")).cast("long"),
                F.col("mean_milli"),
            )
        ).alias("lo_milli"),
        F.min(
            F.when(
                F.col("rk")
                == F.ceil(F.lit(0.975) * F.col("n_reps")).cast("long"),
                F.col("mean_milli"),
            )
        ).alias("hi_milli"),
    )
    pt = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr("CAST(SUM(n_chars) * 1000 div COUNT(*) AS BIGINT)").alias(
            "mean_milli"
        ),
    )
    return pt.join(F.broadcast(ci), "source")


PACK_CAP = 512


@query(
    "q_pack_efficiency_audit",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(length(text) - length(replace(text, ' ', '')) + 1
                    AS BIGINT) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT source, doc_id, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source
                                ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                           - n_tokens) / {PACK_CAP}.0) AS BIGINT) AS pack_id
        FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs,
           CAST((SUM(n_tokens) + {PACK_CAP} - 1) // {PACK_CAP} AS BIGINT)
               AS lower_bound,
           CAST(SUM(n_tokens) * 1000000
                // (COUNT(DISTINCT pack_id) * {PACK_CAP}) AS BIGINT)
               AS fill_ppm,
           CAST(SUM(CASE WHEN n_tokens >= {PACK_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oversize
    FROM packed GROUP BY source
    """,
    tags=("llm", "text"),
)
def q_pack_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over the q_pack_sequences layout: per
    source, the achieved pack count vs the information-theoretic lower
    bound ⌈Σtokens/capacity⌉, the fill rate in exact ppm, and the
    oversize-doc count (docs ≥ capacity, which no packer can bin
    without splitting) — the go/no-go numbers reviewed before paying
    for a training run on a packed dataset (padding waste is pure
    wasted FLOPs). Fill below ~90% says switch the packer (FFD or
    split-long-docs) BEFORE the run, not after.

    100 TB shape: identical single window + hash-agg plan as
    q_pack_sequences (same (source, day-shard) partition-key note);
    the audit adds only agg columns, no new exchange. COUNT(DISTINCT
    pack_id) expands to a two-phase agg on the already-shuffled
    partition — still no extra fact-scale movement."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = d.select(
        "source", "doc_id", n_tokens.alias("n_tokens")
    ).withColumn(
        "pack_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / float(PACK_CAP)
        ),
    )
    return packed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.countDistinct("pack_id").alias("n_packs"),
        F.expr(f"CAST((SUM(n_tokens) + {PACK_CAP} - 1) div {PACK_CAP} AS BIGINT)").alias(
            "lower_bound"
        ),
        F.expr(
            f"CAST(SUM(n_tokens) * 1000000 div "
            f"(COUNT(DISTINCT pack_id) * {PACK_CAP}) AS BIGINT)"
        ).alias("fill_ppm"),
        F.sum(
            F.when(F.col("n_tokens") >= PACK_CAP, 1).otherwise(0)
        ).alias("n_oversize"),
    )


@query(
    "q_embed_quantize_calibrate",
    oracle="""
    WITH el AS (
        SELECT abs(CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS am
        FROM (SELECT unnest(embedding) AS v FROM embeddings)
    ),
    hist AS (
        SELECT am, CAST(COUNT(*) AS BIGINT) AS cnt FROM el GROUP BY am
    ),
    cum AS (
        SELECT am, cnt,
               SUM(cnt) OVER (ORDER BY am) AS cum_n,
               SUM(cnt) OVER () AS n_total
        FROM hist
    ),
    bounds AS (
        SELECT MIN(CASE WHEN cum_n >= (99 * n_total + 99) // 100
                        THEN am END) AS p99,
               MIN(CASE WHEN cum_n >= (999 * n_total + 999) // 1000
                        THEN am END) AS p999,
               MAX(am) AS amax,
               MAX(n_total) AS n_total
        FROM cum
    ),
    clips AS (
        SELECT 'p99' AS clip_name, p99 AS clip_milli, n_total FROM bounds
        UNION ALL
        SELECT 'p999', p999, n_total FROM bounds
        UNION ALL
        SELECT 'max', amax, n_total FROM bounds
    )
    SELECT c.clip_name, c.clip_milli,
           CAST(COALESCE(SUM(CASE WHEN h.am > c.clip_milli
                                  THEN h.cnt END), 0) * 1000000
                // MAX(c.n_total) AS BIGINT) AS saturation_ppm,
           CAST(c.clip_milli * 1000000 // 127 AS BIGINT) AS scale_micro
    FROM clips c LEFT JOIN hist h ON h.am > c.clip_milli
    GROUP BY c.clip_name, c.clip_milli
    """,
    tags=("llm", "vector"),
)
def q_embed_quantize_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantization calibration sweep: for clip thresholds at the
    exact p99 / p99.9 / max of the |element| distribution, report the
    saturation rate (elements that would clamp) and the implied int8
    scale — the table read before freezing a quantized-embedding
    serving config (clip at max wastes resolution on one outlier; clip
    at p99 saturates 1% — this query prices that trade EXACTLY, the
    q_embed_quantize_int8 counterpart that chooses its constant).
    Percentiles are exact rank statistics over quantized milli-units;
    every output is integer arithmetic.

    100 TB shape: ONE fact-scale map-side-combined agg builds the
    |value| histogram, which is BOUNDED (unit-normalized embeddings →
    ≤ ~1001 distinct milli magnitudes, corpus-size-independent);
    percentile ranks, saturation tails, and all three clip rows derive
    from that tiny frame — the sweep never rescans the vectors, so
    adding clip candidates is free."""
    e = load_table(spark, sf_dir, "embeddings")
    el = e.select(F.explode("embedding").alias("v")).select(
        F.abs(F.floor(F.col("v").cast("double") * 1000))
        .cast("long")
        .alias("am")
    )
    hist = el.groupBy("am").agg(F.count("*").alias("cnt"))
    wcum = Window.orderBy("am").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "am",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum_n"),
        F.sum("cnt").over(wall).alias("n_total"),
    )
    bounds = cum.agg(
        F.min(
            F.when(
                F.col("cum_n") >= F.expr("(99 * n_total + 99) div 100"),
                F.col("am"),
            )
        ).alias("p99"),
        F.min(
            F.when(
                F.col("cum_n") >= F.expr("(999 * n_total + 999) div 1000"),
                F.col("am"),
            )
        ).alias("p999"),
        F.max("am").alias("amax"),
        F.max("n_total").alias("n_total"),
    )
    clips = bounds.selectExpr(
        "stack(3, 'p99', p99, 'p999', p999, 'max', amax) "
        "AS (clip_name, clip_milli)",
        "n_total",
    )
    joined = F.broadcast(clips).join(
        hist, hist.am > clips.clip_milli, "left"
    )
    return joined.groupBy("clip_name", "clip_milli").agg(
        F.expr(
            "CAST(COALESCE(SUM(CASE WHEN am > clip_milli THEN cnt END), 0) "
            "* 1000000 div MAX(n_total) AS BIGINT)"
        ).alias("saturation_ppm"),
        F.expr("CAST(clip_milli * 1000000 div 127 AS BIGINT)").alias(
            "scale_micro"
        ),
    )


# LSH banding sweep: every (bands, rows) factorization of the 12
# permutations worth pricing. More bands = higher recall, more
# candidates (cost); the sweep prices that curve exactly.
LSH_TUNE_CONFIGS = ((2, 6), (3, 4), (4, 3), (6, 2))


def _lsh_tuning_oracle() -> str:
    sig_cte = _minhash_cte().rsplit(",\n    bands AS", 1)[0]
    parts = [sig_cte]
    for bb, rr in LSH_TUNE_CONFIGS:
        bands_sel = "\n        UNION ALL\n        ".join(
            "SELECT doc_id, {b} AS band, concat_ws('-', {cols}) AS bsig "
            "FROM sig".format(
                b=b,
                cols=", ".join(f"m{b * rr + r}" for r in range(rr)),
            )
            for b in range(bb)
        )
        parts.append(
            f""",
    bands_{bb} AS (
        {bands_sel}
    ),
    cand_{bb} AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_{bb} a JOIN bands_{bb} b
          ON a.band = b.band AND a.bsig = b.bsig
        WHERE a.doc_id < b.doc_id
    )"""
        )
    parts.append(
        """,
    card AS (
        SELECT doc_id, CAST(COUNT(DISTINCT s) AS BIGINT) AS n
        FROM sh GROUP BY doc_id
    ),
    truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT DISTINCT doc_id, s FROM sh) a
        JOIN (SELECT DISTINCT doc_id, s FROM sh) b
          ON a.s = b.s AND a.doc_id < b.doc_id
        JOIN card ca ON ca.doc_id = a.doc_id
        JOIN card cb ON cb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, ca.n, cb.n
        HAVING 3 * COUNT(*) >= ca.n + cb.n
    )"""
    )
    rows = []
    for bb, rr in LSH_TUNE_CONFIGS:
        rows.append(
            f"""
    SELECT CAST({bb} AS BIGINT) AS bands, CAST({rr} AS BIGINT) AS rows_per_band,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{bb}) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{bb} c
             JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
               AS n_hits,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth"""
        )
    body = "\n    UNION ALL".join(rows)
    return (
        "".join(parts)
        + f"""
    SELECT bands, rows_per_band, n_candidates, n_hits, n_truth,
           CAST(CASE WHEN n_truth > 0
                     THEN n_hits * 1000000 // n_truth ELSE 0 END AS BIGINT)
               AS recall_ppm,
           CAST(CASE WHEN n_candidates > 0
                     THEN n_hits * 1000000 // n_candidates ELSE 0 END
                AS BIGINT) AS precision_ppm
    FROM ({body})
    """
    )


@query("q_dedup_lsh_tuning", oracle=_lsh_tuning_oracle(), tags=("llm", "dedup"))
def q_dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-parameter sweep: every (bands × rows) factorization
    of the 12 minhash permutations, priced by candidate-pair volume
    (cost) and recall/precision in exact ppm against the exact-Jaccard
    ≥ 0.5 truth set — the S-curve tuning table read BEFORE committing a
    banding config to a 100 TB dedup pass, where re-running with the
    wrong (b, r) costs a day. More bands → higher recall AND more
    candidates; this emits the measured trade, not the textbook
    formula. Truth membership uses the cross-multiplied integer test
    3·shared ≥ n_a+n_b (Jaccard ≥ ½ exactly, no float).

    100 TB shape: signatures are the shared pure-map fold (the
    persisted session signature table — minhash_sig_frame, shared with
    q_dedup_minhash / q_dedup_incremental); the exact-truth set derives
    from the shared pair-count fixture (shingle_pair_counts ⋈
    shingle_card) instead of re-running the shingle self-join; and ONE
    exploded band frame carries every config (the config id rides the
    band key), so the four per-config self-join→distinct→truth-join
    subtrees collapse into ONE join pipeline — 4 Exchange chains → 1
    (guide §2.4); candidate generation stays bucketed for every config,
    never all-pairs. Counts are map-side-combined; the sweep emits 4
    rows."""
    sig = minhash_sig_frame(spark, sf_dir)
    card = shingle_card(spark, sf_dir)
    truth = (
        shingle_pair_counts(spark, sf_dir)
        .join(
            card.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            card.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .filter(3 * F.col("shared") >= F.col("na") + F.col("nb"))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    truth_n = truth.agg(F.count("*").alias("n_truth"))

    band_cols = [
        F.struct(
            F.lit(bb).alias("cfg"),
            F.lit(bn).alias("band"),
            F.concat_ws(
                "-", *[f"m{bn * rr + r}" for r in range(rr)]
            ).alias("bsig"),
        )
        for bb, rr in LSH_TUNE_CONFIGS
        for bn in range(bb)
    ]
    bands = (
        sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bs"))
        .select("doc_id", "bs.cfg", "bs.band", "bs.bsig")
        .repartition("cfg", "band", "bsig")
    )
    ba, bbb = bands.alias("a"), bands.alias("b")
    cand = (
        ba.join(
            bbb,
            (F.col("a.cfg") == F.col("b.cfg"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.cfg").alias("cfg"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Truth pairs are unique (pair-grain aggregate), so the left join
    # preserves candidate row count; a config with zero candidates
    # simply has no group — the 4-row config frame below restores it
    # with zeros, reproducing the old per-config global aggregates.
    counts = (
        cand.join(
            truth.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .groupBy("cfg")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
    )
    cfgs = spark.createDataFrame(
        list(LSH_TUNE_CONFIGS), "bands long, rows_per_band long"
    )
    out = (
        cfgs.join(
            F.broadcast(counts), F.col("bands") == F.col("cfg"), "left"
        )
        .select(
            "bands",
            "rows_per_band",
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias("n_candidates"),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        )
    )
    return out.crossJoin(F.broadcast(truth_n)).select(
        "bands",
        "rows_per_band",
        "n_candidates",
        "n_hits",
        "n_truth",
        F.expr(
            "CAST(CASE WHEN n_truth > 0 THEN n_hits * 1000000 div n_truth "
            "ELSE 0 END AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(CASE WHEN n_candidates > 0 "
            "THEN n_hits * 1000000 div n_candidates ELSE 0 END AS BIGINT)"
        ).alias("precision_ppm"),
    )


# MRL sweep: candidate serving dims (prefix truncations) and the
# sampled query set / top-k depth of the recall audit.
MRL_SWEEP_DIMS = (8, 16, 32, 64)
MRL_QUERY_MOD = 25
MRL_K = 10


def _mrl_sweep_oracle() -> str:
    def cos(d: int) -> str:
        a = f"q.embedding[1:{d}]"
        b = f"c.embedding[1:{d}]"
        return duck_cosine(a, b)

    dim_sims = ", ".join(
        f"round({cos(d)}, 6) AS s{d}" for d in MRL_SWEEP_DIMS
    )
    dim_rows = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, nbr_id, CAST({d} AS BIGINT) AS n_dims, s{d} AS sim "
        "FROM pair_sims"
        for d in MRL_SWEEP_DIMS
    )
    full = max(MRL_SWEEP_DIMS)
    return f"""
    WITH pair_sims AS (
        SELECT q.vec_id, c.vec_id AS nbr_id, {dim_sims}
        FROM embeddings q JOIN embeddings c
          ON q.label = c.label AND q.vec_id <> c.vec_id
        WHERE q.vec_id % {MRL_QUERY_MOD} = 0
    ),
    per_dim AS (
        {dim_rows}
    ),
    topk AS (
        SELECT vec_id, nbr_id, n_dims FROM (
            SELECT vec_id, nbr_id, n_dims,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, n_dims
                                      ORDER BY sim DESC, nbr_id) AS rk
            FROM per_dim
        ) WHERE rk <= {MRL_K}
    ),
    full_k AS (
        SELECT vec_id, nbr_id FROM topk WHERE n_dims = {full}
    ),
    hits AS (
        SELECT t.n_dims,
               CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM topk t JOIN full_k f
          ON t.vec_id = f.vec_id AND t.nbr_id = f.nbr_id
        GROUP BY t.n_dims
    ),
    denom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_full FROM full_k
    )
    SELECT h.n_dims, h.n_hits, d.n_full,
           CAST(h.n_hits * 1000000 // d.n_full AS BIGINT) AS recall_ppm
    FROM hits h CROSS JOIN denom d
    """


@query("q_sim_mrl_recall_sweep", oracle=_mrl_sweep_oracle(), tags=("llm", "similarity"))
def q_sim_mrl_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka dimension sweep: exact top-10 recall of prefix-
    truncated cosine (8/16/32/64 dims) against the full-dim ranking,
    over a deterministic 1-in-25 query sample within IVF label buckets
    — the dimension-choice table read before switching ANN serving to
    truncated MRL embeddings (q_embed_truncate_mrl measures per-vector
    norm retention; THIS measures what actually matters, ranking
    agreement, priced per candidate dim). Ties break on (6-dp sim,
    nbr_id) identically in both engines; recall is exact ppm.

    100 TB shape: ONE bucketed pair pass computes all four prefix dots
    (the ×4 is per-pair expression work, not extra joins — prefix dots
    share the same zip_with fold shape); rankings are bounded windows
    per (query, dim) on the bucket partitioning, and the audit output
    is 4 rows. Candidate generation stays label-bucketed (never
    all-pairs), so the sweep inherits the knn-graph scan law."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % MRL_QUERY_MOD == 0).select(
        F.col("vec_id"), F.col("label"), F.col("embedding").alias("qe")
    )
    c = e.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label"),
        F.col("embedding").alias("ce"),
    )
    pair_sims = q.join(c, "label").filter(
        F.col("vec_id") != F.col("nbr_id")
    ).select(
        "vec_id",
        "nbr_id",
        *[
            F.round(
                cosine(F.slice("qe", 1, d), F.slice("ce", 1, d)), 6
            ).alias(f"s{d}")
            for d in MRL_SWEEP_DIMS
        ],
    )
    per_dim = pair_sims.select(
        "vec_id",
        "nbr_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("long").alias("n_dims"),
                        F.col(f"s{d}").alias("sim"),
                    )
                    for d in MRL_SWEEP_DIMS
                ]
            )
        ).alias("p"),
    ).select("vec_id", "nbr_id", "p.n_dims", "p.sim")
    w = Window.partitionBy("vec_id", "n_dims").orderBy(
        F.desc("sim"), "nbr_id"
    )
    topk = (
        per_dim.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MRL_K)
        .select("vec_id", "nbr_id", "n_dims")
    )
    full = max(MRL_SWEEP_DIMS)
    full_k = topk.filter(F.col("n_dims") == full).select(
        "vec_id", "nbr_id"
    )
    hits = topk.join(full_k, ["vec_id", "nbr_id"]).groupBy("n_dims").agg(
        F.count("*").alias("n_hits")
    )
    denom = full_k.agg(F.count("*").alias("n_full"))
    return hits.crossJoin(F.broadcast(denom)).select(
        "n_dims",
        "n_hits",
        "n_full",
        F.expr("CAST(n_hits * 1000000 div n_full AS BIGINT)").alias(
            "recall_ppm"
        ),
    )


DSIR_BUCKETS = 256
DSIR_KEEP_PCT = 20


@query(
    "q_curate_dsir",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, str_split(lower(text), ' ') AS toks
        FROM documents
    ),
    big AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5(
                   unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i + 1]))), 1, 8))
                   AS BIGINT) % {DSIR_BUCKETS} AS bucket
        FROM tok
    ),
    tgt AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct FROM big
        WHERE lang = 'en' GROUP BY bucket
    ),
    raw AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr FROM big
        GROUP BY bucket
    ),
    score AS (
        SELECT r.bucket,
               CAST(length(printf('%b', COALESCE(t.ct, 0) + 1))
                    - length(printf('%b', r.cr + 1)) AS BIGINT) AS s
        FROM raw r LEFT JOIN tgt t USING (bucket)
    ),
    docw AS (
        SELECT b.doc_id,
               CAST(SUM(s.s) AS BIGINT) AS weight,
               CAST(COUNT(*) AS BIGINT) AS n_feats
        FROM big b JOIN score s USING (bucket)
        GROUP BY b.doc_id
    ),
    ranked AS (
        SELECT doc_id, weight, n_feats,
               CAST(weight * 1000000 // n_feats AS BIGINT)
                   AS mean_weight_ppm,
               ROW_NUMBER() OVER (
                   ORDER BY weight * 1000000 // n_feats DESC, doc_id) AS rn,
               COUNT(*) OVER () AS n_docs
        FROM docw
    )
    SELECT doc_id, weight, n_feats, mean_weight_ppm,
           rn <= (n_docs * {DSIR_KEEP_PCT}) // 100 AS selected
    FROM ranked
    """,
    tags=("llm", "curation"),
)
def q_curate_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public method):
    importance weight per raw document = sum over its hashed-bigram
    OCCURRENCES of the target-vs-raw log-likelihood ratio, here with
    ⌊log₂(count+1)⌋-quantized likelihoods (bit-length − via conv/printf
    '%b' — the q_text_logfreq_score integer-exact pattern: no float log
    whose last bit could differ across engines). Target distribution =
    the lang='en' slice (the high-quality-corpus stand-in); features =
    hashed bigrams WITH multiplicity into {DSIR_BUCKETS} buckets. The
    top {DSIR_KEEP_PCT}% by per-feature mean weight (ppm-quantized:
    weight*1e6 div n_feats, exact int64 in both engines) are `selected` —
    importance RANKING rather than Xie's gumbel resampling, so the
    output is deterministic and oracle-checkable. Sub-2-token docs have
    no features and drop out, as in the published pipeline.

    100 TB shape: bucket tables are {DSIR_BUCKETS} rows (broadcast
    everywhere); the doc-grain weight is one map-side-combinable agg
    over the bigram stream. The global selection sort is documents-
    grain; at real scale replace rank-selection with an approx-quantile
    weight THRESHOLD (one pass, no global sort) — the q_curate_quality
    _bins pattern."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    big = d.select(
        "doc_id", "lang", F.explode(bigrams).alias("bg")
    ).select(
        "doc_id", "lang", (hex_hash(F.col("bg")) % DSIR_BUCKETS).alias("bucket")
    )
    bitlen = lambda c: F.length(F.conv(c.cast("string"), 10, 2))  # noqa: E731
    tgt = (
        big.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
    )
    raw = big.groupBy("bucket").agg(F.count("*").alias("cr"))
    score = raw.join(tgt, "bucket", "left").select(
        "bucket",
        (
            bitlen(F.coalesce(F.col("ct"), F.lit(0)) + 1)
            - bitlen(F.col("cr") + 1)
        )
        .cast("long")
        .alias("s"),
    )
    docw = (
        big.join(F.broadcast(score), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("s").alias("weight"), F.count("*").alias("n_feats"))
    )
    docw = docw.withColumn(
        "mean_weight_ppm",
        F.expr("CAST(weight * 1000000 div n_feats AS BIGINT)"),
    )
    w = Window.orderBy(F.col("mean_weight_ppm").desc(), F.col("doc_id"))
    ranked = docw.select(
        "doc_id",
        "weight",
        "n_feats",
        "mean_weight_ppm",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n_docs"),
    )
    return ranked.select(
        "doc_id",
        "weight",
        "n_feats",
        "mean_weight_ppm",
        (
            F.col("rn")
            <= F.expr(f"n_docs * {DSIR_KEEP_PCT} div 100")
        ).alias("selected"),
    )


def _ndcg_gain_table() -> list[tuple[int, int]]:
    """(rank, gain) rows for ranks 1..TOPK with gain = round(1e9 /
    log2(rank+1)) — computed ONCE in Python and embedded as literal
    constants in BOTH backends, so no engine evaluates a float log
    (the last-bit-of-log2 cross-engine hazard); everything downstream
    is exact int64 arithmetic."""
    import math

    return [(i, round(1e9 / math.log2(i + 1))) for i in range(1, TOPK + 1)]


def _ndcg_oracle() -> str:
    gains = _ndcg_gain_table()
    idcg = sum(g for _, g in gains)
    values = ", ".join(f"({r}, {g})" for r, g in gains)
    ctes, final = _adc_parts()
    ctes = ctes + [
        "adc AS (" + final + ")",
        """nranked AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
        FROM adc
    )""",
        f"ngain(rn, g) AS (SELECT * FROM (VALUES {values}))",
        f"""nex AS (
        SELECT e.vec_id FROM embeddings e CROSS JOIN iv_q
        WHERE e.vec_id <> 0
        ORDER BY round({duck_cosine("e.embedding", "iv_q.qv")}, 6) DESC,
                 e.vec_id
        LIMIT {TOPK}
    )""",
        """nhits AS (
        SELECT g.g FROM nranked r JOIN nex USING (vec_id)
        JOIN ngain g USING (rn)
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST({TOPK} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COALESCE(SUM(g), 0) AS BIGINT) AS dcg_scaled,
           CAST({idcg} AS BIGINT) AS idcg_scaled,
           CAST(COALESCE(SUM(g), 0) * 1000000 // {idcg} AS BIGINT)
               AS ndcg_ppm
    FROM nhits
    """
    )


@query(
    "q_eval_ndcg",
    oracle=_ndcg_oracle(),
    tags=("llm", "similarity", "audit"),
)
def q_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k for the ANN serving stack — completes the retrieval-eval
    family (recall audit, precision/MRR) with the rank-position-aware
    metric every retrieval leaderboard reports: DCG = Σ over hits of
    1/log2(rank+1), against the exact-cosine top-k as the binary
    relevance set (IDCG = all k relevant at the top). The 1/log2 gain
    table is Python-computed integer constants (×1e9) shared verbatim
    by both backends — no float log in either engine; DCG/IDCG/NDCG
    are exact int64 sums and one integer division to ppm.

    100 TB shape: rank window over a k-row frame, k-row gain-table
    broadcast join, 1-row output — eval cost is serving cost, the
    metric itself is free."""
    gains = _ndcg_gain_table()
    idcg = sum(g for _, g in gains)
    adc = q_sim_ivf_pq_adc(spark, sf_dir)
    wr = Window.orderBy("adc_dist", "vec_id")
    ranked = adc.select("vec_id", "adc_dist").withColumn(
        "rn", F.row_number().over(wr)
    )
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    cos = cosine(F.col("embedding"), F.col("qv"))
    exact = (
        e.crossJoin(qv)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cos, 6).alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(TOPK)
        .select("vec_id")
    )
    gain = F.broadcast(
        spark.createDataFrame(_ndcg_gain_table(), "rn int, g long")
    )
    hits = ranked.join(exact, "vec_id").join(gain, "rn")
    return hits.agg(
        F.lit(TOPK).cast("long").alias("k"),
        F.count("*").alias("n_hits"),
        F.coalesce(F.sum("g"), F.lit(0)).alias("dcg_scaled"),
        F.lit(idcg).cast("long").alias("idcg_scaled"),
        F.expr(f"CAST(coalesce(sum(g), 0) * 1000000 DIV {idcg} AS LONG)")
        .alias("ndcg_ppm"),
    )


WMH_CAP = 3  # per-token multiplicity cap in the weighted multiset
WMH_H = 8  # minhash permutations: 4 bands x 2 rows
WMH_BANDS = 4
WMH_THRESH_PPM = 600000


def _wmh_oracle() -> str:
    rows = WMH_H // WMH_BANDS
    sig_parts = []
    for h in range(WMH_H):
        salted = f"'s{h}:' || feat"
        sig_parts.append(f"MIN({duck_hex_hash(salted)}) AS m{h}")
    sig_cols = ", ".join(sig_parts)
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {k} AS band, {expr} AS bsig FROM wsig".format(
            k=k,
            expr=" || ':' || ".join(
                f"CAST(m{k * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for k in range(WMH_BANDS)
    )
    return f"""
    WITH wdoc AS (
        SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents
    ),
    wtok AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> toks[i] || ' ' || toks[i + 1])) AS tok
        FROM wdoc
    ),
    wtc AS (
        SELECT doc_id, tok,
               CAST(LEAST(COUNT(*), {WMH_CAP}) AS BIGINT) AS c
        FROM wtok GROUP BY doc_id, tok
    ),
    wfeats AS (
        SELECT doc_id, tok || '#' || CAST(i AS VARCHAR) AS feat
        FROM wtc, UNNEST(range(1, c + 1)) AS t(i)
    ),
    wsig AS (SELECT doc_id, {sig_cols} FROM wfeats GROUP BY doc_id),
    wbands AS ({band_selects}),
    wcand AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM wbands a JOIN wbands b
          ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    wtot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t FROM wtc GROUP BY 1),
    winter AS (
        SELECT c.da, c.db, CAST(SUM(LEAST(ta.c, tb.c)) AS BIGINT) AS num
        FROM wcand c
        JOIN wtc ta ON ta.doc_id = c.da
        JOIN wtc tb ON tb.doc_id = c.db AND ta.tok = tb.tok
        GROUP BY 1, 2
    )
    SELECT i.da AS doc_a, i.db AS doc_b,
           CAST(i.num * 1000000 // (a.t + b.t - i.num) AS BIGINT) AS jac_ppm
    FROM winter i
    JOIN wtot a ON a.doc_id = i.da
    JOIN wtot b ON b.doc_id = i.db
    WHERE i.num * 1000000 // (a.t + b.t - i.num) >= {WMH_THRESH_PPM}
    """


def _wmh_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bigram, capped count) — the weighted feature multiset."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select("doc_id", F.explode(bigrams).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.least(F.count("*"), F.lit(WMH_CAP)).cast("long").alias("c"))
    )


def _wmh_bands(tc: DataFrame) -> DataFrame:
    """(doc_id, band, bsig) LSH band frame over the expanded multiset —
    shared by the registry key and the scale-shape linearity gate.

    Round 15 (guide §2.4): the band slices are MELTED via one
    ``explode(array(struct(band, bsig), …))`` over the signature frame
    instead of a per-band ``select`` + ``union`` — Spark does no CSE
    across union branches, so the old form re-ran the whole signature
    subtree (corpus scan → bigram explode → capped-count agg →
    multiset-expansion explode → 8-way min-hash agg) once PER BAND.
    Same rows: the union of the k band projections of each sig row is
    exactly the explode of the k-element struct array built from that
    row."""
    feats = tc.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("c")),
                lambda i: F.concat(
                    F.col("tok"), F.lit("#"), i.cast("string")
                ),
            )
        ).alias("feat"),
    )
    sig = feats.groupBy("doc_id").agg(
        *[
            F.min(
                hex_hash(F.concat(F.lit(f"s{h}:"), F.col("feat")))
            ).alias(f"m{h}")
            for h in range(WMH_H)
        ]
    )
    rows = WMH_H // WMH_BANDS
    melt = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("band"),
                    F.concat_ws(
                        ":",
                        *[
                            F.col(f"m{k * rows + r}").cast("string")
                            for r in range(rows)
                        ],
                    ).alias("bsig"),
                )
                for k in range(WMH_BANDS)
            ]
        )
    ).alias("bb")
    return sig.select("doc_id", melt).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bsig").alias("bsig")
    )


@query("q_dedup_minhash_weighted", oracle=_wmh_oracle(), tags=("llm", "dedup"))
def q_dedup_minhash_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED near-dup detection — multiset Jaccard, the rung the
    unweighted family misses: two docs sharing vocabulary but with very
    different token FREQUENCIES (one says 'buy' once, the spam variant
    says it 40 times) score high under set-Jaccard but low under
    Σmin(cₐ,c_b)/Σmax(cₐ,c_b). Features are 2-token shingles WITH
    multiplicity — raw tokens degenerate under minhash (the Zipf head
    makes every doc's min the globally-smallest-hash stopword feature;
    measured: a 1577-doc LSH bucket at sf0.1), while the bigram
    universe is high-cardinality so buckets stay small. Capped-multiset
    expansion (each bigram replicated min(count, {WMH_CAP}) times as
    'bg#i') reduces weighted minhash to plain minhash over expanded
    features (the integer-exact
    alternative to ICWS, whose gumbel/log draws no two engines compute
    bit-identically); candidates come from {WMH_BANDS}x2 LSH banding
    over the expanded-feature signatures, then every candidate is
    verified with the EXACT capped multiset Jaccard in integer ppm
    (Σmax = tot_a + tot_b − Σmin, no float anywhere).

    100 TB shape: expansion ≤ {WMH_CAP}× the token stream (a pure
    map); signature is one map-side-combinable agg; the band self-join
    buckets on high-cardinality (band, bsig); verification joins only
    candidate pairs on token — never all-pairs.

    Round 15 (guide §1.2/§5 — checkpoint reused slices): the capped
    count frame ``tc`` feeds FOUR subtrees (the band signature chain,
    ``tot``, and both verification sides ``ta``/``tb``) and the band
    frame feeds both sides of the candidate self-join; none of it was
    shared, so the plan carried 24 full documents scans (bigram
    explode + agg each — plans/r15/q_dedup_minhash_weighted_before).
    ``tc`` and ``bands`` are now localCheckpointed (computed inside
    the timed job, lineage-truncated, session-local — the r14 shared-
    slice pattern), and the band slices melt through one explode
    (see _wmh_bands). After plan: ONE documents scan."""
    tc = _wmh_counts(spark, sf_dir).localCheckpoint(eager=False)
    bands = (
        _wmh_bands(tc)
        .repartition("band", "bsig")
        .localCheckpoint(eager=False)
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .distinct()
    )
    tot = tc.groupBy("doc_id").agg(F.sum("c").alias("t"))
    ta, tb = tc.alias("ta"), tc.alias("tb")
    inter = (
        cand.join(ta, F.col("ta.doc_id") == F.col("da"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("db"))
            & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("da", "db")
        .agg(F.sum(F.least(F.col("ta.c"), F.col("tb.c"))).alias("num"))
    )
    jac = F.expr("num * 1000000 div (at + bt - num)")
    return (
        inter.join(
            tot.select(F.col("doc_id").alias("da"), F.col("t").alias("at")),
            "da",
        )
        .join(
            tot.select(F.col("doc_id").alias("db"), F.col("t").alias("bt")),
            "db",
        )
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            jac.cast("long").alias("jac_ppm"),
        )
        .filter(F.col("jac_ppm") >= WMH_THRESH_PPM)
    )


def _ap_oracle() -> str:
    ctes, final = _adc_parts()
    ctes = ctes + [
        "adc AS (" + final + ")",
        """apr AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
        FROM adc
    )""",
        f"""apx AS (
        SELECT e.vec_id FROM embeddings e CROSS JOIN iv_q
        WHERE e.vec_id <> 0
        ORDER BY round({duck_cosine("e.embedding", "iv_q.qv")}, 6) DESC,
                 e.vec_id
        LIMIT {TOPK}
    )""",
        """aph AS (
        SELECT r.rn,
               row_number() OVER (ORDER BY r.rn) AS hit_idx
        FROM apr r JOIN apx USING (vec_id)
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST({TOPK} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COALESCE(SUM(hit_idx * 1000000 // rn), 0) AS BIGINT)
               AS sum_prec_ppm,
           CAST(COALESCE(SUM(hit_idx * 1000000 // rn), 0) // {TOPK}
               AS BIGINT) AS ap_ppm
    FROM aph
    """
    )


@query(
    "q_eval_average_precision",
    oracle=_ap_oracle(),
    tags=("llm", "similarity", "audit"),
)
def q_eval_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average Precision@k for the ANN stack — the last of the four
    standard ranking metrics (recall, precision/MRR, NDCG, AP): mean
    over hits of precision-at-that-hit's-rank, i.e. Σ (hit_idx / rn)
    / R with R = k relevant. Each precision term is quantized to ppm
    by INTEGER division (hit_idx·10⁶ div rn — per-term deterministic,
    summation order irrelevant for ints), then one division by R: no
    float anywhere, the silhouette quantize-then-sum rule.

    100 TB shape: two k-row rank windows and a 1-row agg — free next
    to the serving cost it evaluates."""
    adc = q_sim_ivf_pq_adc(spark, sf_dir)
    wr = Window.orderBy("adc_dist", "vec_id")
    ranked = adc.select("vec_id", "adc_dist").withColumn(
        "rn", F.row_number().over(wr)
    )
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    cos = cosine(F.col("embedding"), F.col("qv"))
    exact = (
        e.crossJoin(qv)
        .filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(cos, 6).alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(TOPK)
        .select("vec_id")
    )
    hits = ranked.join(exact, "vec_id").withColumn(
        "hit_idx", F.row_number().over(Window.orderBy("rn"))
    )
    return hits.agg(
        F.lit(TOPK).cast("long").alias("k"),
        F.count("*").alias("n_hits"),
        F.coalesce(
            F.sum(F.expr("hit_idx * 1000000 div rn")), F.lit(0)
        )
        .cast("long")
        .alias("sum_prec_ppm"),
        F.expr(
            f"CAST(coalesce(sum(hit_idx * 1000000 div rn), 0)"
            f" div {TOPK} AS LONG)"
        ).alias("ap_ppm"),
    )


# ---------------------------------------------------------------------------
# Curation: per-domain token cap (RefinedWeb-style source balancing)
# ---------------------------------------------------------------------------

# The fixture's 20 sources each hold ~5% of corpus tokens (measured at
# both SFs), so a 4% cap truncates EVERY source's tail — both kept=true
# and kept=false rows exist at any SF, and the cap mechanism
# demonstrably fires (the r7 route-balance lesson: measure the fixture
# shape first, then set the threshold so the operator discriminates).
DOMAIN_CAP_PCT = 4


@query(
    "q_curate_domain_cap",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source,
               CAST(len(str_split(lower(text), ' ')) AS BIGINT) AS n_toks
        FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS tot FROM base),
    cum AS (
        SELECT doc_id, source, n_toks,
               CAST(SUM(n_toks) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
        FROM base
    )
    SELECT doc_id, source, n_toks, cum_toks,
           CAST(tot * {DOMAIN_CAP_PCT} // 100 AS BIGINT) AS cap_toks,
           cum_toks <= tot * {DOMAIN_CAP_PCT} // 100 AS kept
    FROM cum CROSS JOIN tot
    """,
    tags=("llm", "curation"),
)
def q_curate_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token cap — the source-balancing step of web-corpus
    curation (RefinedWeb / Dolma cap any single domain's share so one
    crawl-heavy site can't dominate the mixture): each source admits
    documents in deterministic doc_id order until its running token
    total exceeds {DOMAIN_CAP_PCT}% of the corpus; the remainder is
    marked dropped. Output is the full per-document admission ledger
    (n_toks, running total, cap, kept) so the downstream mix step can
    join it as a filter.

    100 TB shape: token counting is map-only; the ledger is ONE
    shuffle partitioned by source (the window's partition key), and
    the corpus total is a 1-row broadcast. Skewed sources are exactly
    the ones the cap truncates — the window scan still walks their
    full partition, so at extreme skew pre-prune with a per-source
    running APPROXIMATE total first (two-pass cap, same output)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_toks"),
    )
    tot = base.agg(F.sum("n_toks").alias("tot"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("cum_toks", F.sum("n_toks").over(w))
    return cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "n_toks",
        "cum_toks",
        F.expr(f"tot * {DOMAIN_CAP_PCT} div 100").alias("cap_toks"),
        (
            F.col("cum_toks")
            <= F.expr(f"tot * {DOMAIN_CAP_PCT} div 100")
        ).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Tokenizer: WordPiece merge scoring (likelihood ratio, not raw count)
# ---------------------------------------------------------------------------

WORDPIECE_TOPK = 10


@query(
    "q_tokenizer_wordpiece_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ),
    big AS (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS pair
        FROM toks WHERE len(t) >= 2
    ),
    uni AS (SELECT unnest(t) AS tok FROM toks),
    c12 AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c_pair
            FROM big GROUP BY pair),
    c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok),
    scored AS (
        SELECT p.pair, p.c_pair,
               ca.c AS c_left, cb.c AS c_right,
               CAST((p.c_pair * 1000000000 // ca.c) // cb.c AS BIGINT)
                   AS score_ppb
        FROM c12 p
        JOIN c1 ca ON ca.tok = str_split(p.pair, ' ')[1]
        JOIN c1 cb ON cb.tok = str_split(p.pair, ' ')[2]
        WHERE str_split(p.pair, ' ')[1] <> str_split(p.pair, ' ')[2]
    )
    SELECT pair, c_pair, c_left, c_right, score_ppb
    FROM scored ORDER BY score_ppb DESC, pair LIMIT {WORDPIECE_TOPK}
    """,
    tags=("llm", "tokenizer"),
)
def q_tokenizer_wordpiece_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece merge selection (Schuster & Nakajima 2012; the BERT
    tokenizer's criterion): rank candidate merges by the LIKELIHOOD
    RATIO count(ab) / (count(a)·count(b)) instead of BPE's raw
    count(ab) — a pair whose parts rarely appear apart wins over a
    merely frequent pair, which is why WordPiece and BPE grow
    different vocabularies from the same corpus. Scores are exact
    integer parts-per-billion via two sequential truncating divisions
    (identical order in both engines — never one division by the
    c_a·c_b product, whose int64 product can overflow at corpus
    scale); top {WORDPIECE_TOPK} merges reported. Self-pairs are
    excluded (the q_bpe_merge_round convention).

    100 TB shape: identical to q_bpe_pair_counts — two map-side-
    combinable count tables (pair, unigram), the scoring join hashes
    on the unigram key (Zipf head broadcasts under AQE), and the
    top-k is a TakeOrderedAndProject, never a global sort
    materialization."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    n = F.size(t)
    bigrams = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    big = d.filter(n >= 2).select(F.explode(bigrams).alias("pair"))
    uni = d.select(F.explode(t).alias("tok"))
    c12 = big.groupBy("pair").agg(F.count("*").alias("c_pair"))
    c1 = uni.groupBy("tok").agg(F.count("*").alias("c"))
    scored = (
        c12.withColumn("left", F.split("pair", " ").getItem(0))
        .withColumn("right", F.split("pair", " ").getItem(1))
        .filter(F.col("left") != F.col("right"))
        .join(c1.select(F.col("tok"), F.col("c").alias("c_left")),
              F.col("left") == F.col("tok"))
        .drop("tok")
        .join(c1.select(F.col("tok"), F.col("c").alias("c_right")),
              F.col("right") == F.col("tok"))
        .select(
            "pair",
            "c_pair",
            "c_left",
            "c_right",
            F.expr(
                "CAST((c_pair * 1000000000 div c_left) div c_right AS LONG)"
            ).alias("score_ppb"),
        )
    )
    return scored.orderBy(
        F.col("score_ppb").desc(), "pair"
    ).limit(WORDPIECE_TOPK)


# ---------------------------------------------------------------------------
# Eval: classifier calibration bins (ECE decomposition)
# ---------------------------------------------------------------------------


@query(
    "q_eval_calibration_bins",
    oracle=_LANGID_SCORED_CTE
    + """
    , conf AS (
        SELECT doc_id, actual_lang, pred_lang,
               CAST(CASE pred_lang WHEN 'en' THEN s_en
                                   WHEN 'fr' THEN s_fr
                                   ELSE s_de END * 1000000
                    // (s_en + s_fr + s_de) AS BIGINT) AS conf_ppm
        FROM pred JOIN scored USING (doc_id)
        WHERE pred_lang <> 'und'
    ),
    binned AS (
        SELECT LEAST(conf_ppm // 100000, 9) AS bin,
               conf_ppm,
               CASE WHEN pred_lang = actual_lang THEN 1 ELSE 0 END AS ok
        FROM conf
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(conf_ppm) // COUNT(*) AS BIGINT) AS mean_conf_ppm,
           CAST(SUM(ok) AS BIGINT) AS n_correct,
           CAST(SUM(ok) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm,
           CAST(abs(SUM(conf_ppm) // COUNT(*)
                    - SUM(ok) * 1000000 // COUNT(*)) AS BIGINT) AS gap_ppm
    FROM binned GROUP BY bin
    """,
    tags=("llm", "eval"),
)
def q_eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-bin table for the lang-ID classifier — the Expected
    Calibration Error decomposition (Guo et al. 2017): confidence =
    winning stopword score over total score (exact ppm), bucketed into
    10 equal-width bins; each bin reports mean confidence vs empirical
    accuracy and their gap. ECE = Σ n·gap / Σ n is one more weighted
    sum over these ≤10 rows. A well-calibrated quality/language filter
    shows gap≈0 per bin — the audit every heuristic gate feeding
    training data should publish alongside its confusion matrix.
    'und' predictions carry no confidence and are excluded (they also
    have a zero score total, which neither engine may divide by).

    100 TB shape: per-doc scoring is map-only (stopword literals in
    the expression), binning is a 10-ary hash agg with map-side
    combine — the corpus scan dominates; the calibration table is
    free. Same shape audits ANY per-row scorer against ANY label."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens("text"))
    scored = d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[
            F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            ).alias(f"s_{lang}")
            for lang, words in STOPWORDS.items()
        ],
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") > 0),
            "en",
        )
        .when((F.col("s_fr") >= F.col("s_de")) & (F.col("s_fr") > 0), "fr")
        .when(F.col("s_de") > 0, "de")
        .otherwise("und")
    )
    conf = (
        scored.withColumn("pred_lang", pred)
        .filter(F.col("pred_lang") != "und")
        .select(
            "actual_lang",
            "pred_lang",
            F.expr(
                "CAST(CASE pred_lang WHEN 'en' THEN s_en"
                " WHEN 'fr' THEN s_fr ELSE s_de END * 1000000"
                " div (s_en + s_fr + s_de) AS LONG)"
            ).alias("conf_ppm"),
        )
    )
    binned = conf.select(
        F.least(F.expr("conf_ppm div 100000"), F.lit(9))
        .cast("long")
        .alias("bin"),
        "conf_ppm",
        F.when(F.col("pred_lang") == F.col("actual_lang"), 1)
        .otherwise(0)
        .alias("ok"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.expr("CAST(sum(conf_ppm) div count(*) AS LONG)").alias(
            "mean_conf_ppm"
        ),
        F.sum("ok").alias("n_correct"),
        F.expr("CAST(sum(ok) * 1000000 div count(*) AS LONG)").alias(
            "acc_ppm"
        ),
        F.expr(
            "CAST(abs(sum(conf_ppm) div count(*)"
            " - sum(ok) * 1000000 div count(*)) AS LONG)"
        ).alias("gap_ppm"),
    )


# ---------------------------------------------------------------------------
# Embedding: residual after top-PC removal (anisotropy / outlier audit)
# ---------------------------------------------------------------------------


@query(
    "q_embed_pca_residual",
    oracle=f"""
    WITH {_TOP_PC_CTES}
    , perdim AS (
        SELECT q.vec_id, v.j, q.qv[v.j] AS qi, v.v
        FROM q, v3 v
    ),
    withp AS (
        SELECT vec_id, j, qi, v,
               CAST(SUM(qi * v) OVER (PARTITION BY vec_id) AS BIGINT) AS p
        FROM perdim
    ),
    vn AS (SELECT CAST(SUM(v * v) AS BIGINT) AS vn2 FROM v3),
    rd AS (
        SELECT vec_id, p,
               {_duck_trunc_div('qi * vn.vn2 - v * p', '100000000')} AS rd
        FROM withp CROSS JOIN vn
    )
    SELECT vec_id, CAST(MIN(p) AS BIGINT) AS proj,
           CAST(SUM(rd * rd) AS BIGINT) AS residual2
    FROM rd GROUP BY vec_id
    """,
    tags=("llm", "vector"),
)
def q_embed_pca_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual energy after removing the top principal component —
    the all-but-the-top-direction norm ‖x − (x·v/v·v)v‖² that
    anisotropy work (Mu & Viswanath 2018, "All-but-the-Top") removes
    before cosine retrieval, and the outlier score that flags vectors
    NOT explained by the corpus's dominant direction. Shares the
    Gram pass + 1e6-fixed-point power iteration with q_embed_top_pc
    (session-cached _top_pc_frames); the residual is computed in
    cleared-denominator integer form rd_i = (q_i·‖v‖² − v_i·(q·v))
    div 1e8, so proj and residual2 are exact int64 in both engines —
    magnitudes bounded by 127·64·10¹² ≈ 8·10¹⁵ per term and
    64·(1.6·10⁸)² ≈ 1.6·10¹⁸ for the sum, inside int64 at any corpus
    size (per-vector arithmetic never grows with row count).

    100 TB shape: one posexplode to vector×dim grain, the d-row
    eigenvector broadcast, ONE vec_id window shuffle for the
    projection, and a vec-grain agg — O(n·d) map work, no pairwise
    anything."""
    qv, v, _ = _top_pc_frames(spark, sf_dir)
    per = qv.select(
        "vec_id", F.posexplode("q").alias("pos0", "qi")
    ).select("vec_id", (F.col("pos0") + 1).alias("j"), "qi")
    perv = per.join(F.broadcast(v.select("j", "v")), "j")
    wv = Window.partitionBy("vec_id")
    withp = perv.withColumn(
        "p", F.sum(F.expr("qi * v")).over(wv).cast("long")
    )
    vn2 = v.agg(F.sum(F.expr("v * v")).cast("long").alias("vn2"))
    rd = withp.crossJoin(F.broadcast(vn2)).withColumn(
        "rd", F.expr("(qi * vn2 - v * p) div 100000000")
    )
    return rd.groupBy("vec_id").agg(
        F.min("p").alias("proj"),
        F.sum(F.expr("rd * rd")).cast("long").alias("residual2"),
    )


# ---------------------------------------------------------------------------
# Tokenizer: unigram-LM seed vocabulary (frequent substrings)
# ---------------------------------------------------------------------------

UNIGRAM_SEED_TOPK = 30
UNIGRAM_PIECE_LENS = (2, 3, 4)


@query(
    "q_tokenizer_unigram_seed",
    oracle=f"""
    WITH tk AS (
        SELECT unnest(str_split(lower(text), ' ')) AS tok FROM documents
    ),
    pieces AS (
        SELECT unnest(
            {" || ".join(
                f'''CASE WHEN length(tok) >= {L}
                    THEN list_transform(range(1, length(tok) - {L} + 2),
                                        i -> substr(tok, i, {L}))
                    ELSE CAST([] AS VARCHAR[]) END'''
                for L in UNIGRAM_PIECE_LENS
            )}
        ) AS piece FROM tk
    ),
    pc AS (
        SELECT piece, CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM pieces GROUP BY piece
    ),
    tot AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS total FROM pc)
    SELECT piece, n_occ,
           CAST(length(printf('%b', tot.total))
                - length(printf('%b', n_occ)) AS BIGINT) AS neg_log2p_bits
    FROM pc CROSS JOIN tot
    ORDER BY n_occ DESC, piece LIMIT {UNIGRAM_SEED_TOPK}
    """,
    tags=("llm", "tokenizer"),
)
def q_tokenizer_unigram_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer SEED vocabulary (Kudo 2018, SentencePiece
    §3.2): the candidate piece set the unigram tokenizer's EM pruning
    starts from — the most frequent substrings of the corpus tokens,
    each with its occurrence count and ⌊log₂⌋-quantized negative log
    probability (bit-length of total minus bit-length of count — the
    integer-exact log proxy shared with q_curate_dsir). Kudo seeds
    from suffix-array substrings; the bounded piece length
    ({UNIGRAM_PIECE_LENS}) is the documented scale cap — it makes the
    piece stream O(tokens × Σ(len−L+1)) with NO suffix structure to
    build, which is the form that distributes. Completes the
    tokenizer-training family: BPE counts pairs, WordPiece scores
    likelihood ratios, unigram seeds substrings.

    100 TB shape: substring fan-out is a per-row transform + explode
    (map-only), the count is one map-side-combinable hash agg on the
    piece key (Zipf head combines before the shuffle), the total is a
    1-row broadcast, and top-k is TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens("text")).alias("tok"))
    parts = [
        F.expr(
            f"CASE WHEN length(tok) >= {L}"
            f" THEN transform(sequence(1, length(tok) - {L} + 1),"
            f" i -> substring(tok, i, {L}))"
            f" ELSE CAST(array() AS array<string>) END"
        )
        for L in UNIGRAM_PIECE_LENS
    ]
    pieces = tok.select(
        F.explode(F.concat(*parts)).alias("piece")
    )
    pc = pieces.groupBy("piece").agg(F.count("*").alias("n_occ"))
    tot = F.broadcast(pc.agg(F.sum("n_occ").alias("total")))
    bitlen = lambda c: F.length(F.conv(c.cast("string"), 10, 2))  # noqa: E731
    return (
        pc.crossJoin(tot)
        .select(
            "piece",
            "n_occ",
            (bitlen(F.col("total")) - bitlen(F.col("n_occ")))
            .cast("long")
            .alias("neg_log2p_bits"),
        )
        .orderBy(F.desc("n_occ"), "piece")
        .limit(UNIGRAM_SEED_TOPK)
    )


# ---------------------------------------------------------------------------
# Eval: ROC AUC via the Mann-Whitney rank statistic (integer-exact)
# ---------------------------------------------------------------------------


@query(
    "q_eval_auc",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               len(list_intersect(list_distinct(str_split(lower(text), ' ')),
                   ['the', 'a', 'and', 'order', 'table'])) AS s,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    ranked AS (
        SELECT y,
               2 * (RANK() OVER (ORDER BY s) - 1)
                   + COUNT(*) OVER (PARTITION BY s) + 1 AS mr2
        FROM scored
    ),
    agg AS (
        SELECT CAST(SUM(y) AS BIGINT) AS p,
               CAST(SUM(1 - y) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN y = 1 THEN mr2 ELSE 0 END) AS BIGINT)
                   AS sum_mr2_pos
        FROM ranked
    )
    SELECT p, n, sum_mr2_pos,
           CAST((sum_mr2_pos - p * (p + 1)) * 1000000 // (2 * p * n)
                AS BIGINT) AS auc_ppm
    FROM agg
    """,
    tags=("llm", "eval"),
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC for the English-ness scorer (stopword hits vs the
    labeled lang column) via the Mann–Whitney U identity
    AUC = (Σ_pos midrank − P(P+1)/2) / (P·N) — the threshold-free
    ranking metric that completes the eval family (confusion matrix,
    calibration bins, retrieval metrics, now discrimination). Tie
    handling is the textbook MID-rank, kept integral by carrying
    2·midrank = 2·(rank−1) + ties + 1 — crucial here because the
    stopword score takes few distinct values, so almost everything is
    a tie and naive rank() would bias AUC by engine-specific tie
    order. Everything is exact int64; one final integer division to
    ppm. On this fixture the measured AUC is ~0.51 — an HONEST
    diagnostic (the synthetic corpus shares one token pool across
    langs, so the heuristic gate barely discriminates, exactly as its
    confusion matrix shows); the metric's separation laws (perfect
    split → 1.0, monotone-transform invariance) are pinned on planted
    data in tests/test_new_key_invariants.py.

    100 TB shape: one global sort exchange for the rank (the same
    cost class as any percentile), a |distinct scores|-width tie
    count on the identical partitioning, and a 1-row agg. The
    binding int64 term is the ppm-scaled numerator
    (Σ2·midrank_pos − P(P+1))·10⁶ ≈ (N²/2)·10⁶ at balanced classes,
    which passes 2⁶³ near N ≈ 4·10⁶ rows — at that scale run
    per-shard AUCs and average (the standard sharded-AUC
    estimator), or sample; the docstring IS the capacity note."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens("text"))
    en = STOPWORDS["en"]
    scored = d.select(
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in en]))
        ).alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    ranked = scored.select(
        "y",
        (
            2 * (F.rank().over(Window.orderBy("s")) - 1)
            + F.count("*").over(Window.partitionBy("s"))
            + 1
        ).alias("mr2"),
    )
    agg = ranked.agg(
        F.sum("y").alias("p"),
        F.sum(1 - F.col("y")).alias("n"),
        F.sum(F.when(F.col("y") == 1, F.col("mr2")).otherwise(0)).alias(
            "sum_mr2_pos"
        ),
    )
    return agg.select(
        "p",
        "n",
        "sum_mr2_pos",
        F.expr(
            "CAST((sum_mr2_pos - p * (p + 1)) * 1000000"
            " div (2 * p * n) AS LONG)"
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# Curation: eval-split leakage audit (train -> val/test shingle overlap)
# ---------------------------------------------------------------------------


@query(
    "q_curate_split_leakage",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t,
               {duck_hex_hash('text')} % 100 AS slot
        FROM documents
    ),
    lab AS (
        SELECT doc_id,
               CASE WHEN slot < 98 THEN 'train'
                    WHEN slot < 99 THEN 'val'
                    ELSE 'test' END AS split,
               t
        FROM d
    ),
    sh AS (
        SELECT DISTINCT split, doc_id,
               unnest({duck_shingles('t')}) AS s
        FROM lab WHERE len(t) >= 3
    ),
    tr AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
    ev AS (
        SELECT sh.split, sh.doc_id, sh.s,
               CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM sh LEFT JOIN tr USING (s)
        WHERE sh.split <> 'train'
    ),
    per_doc AS (
        SELECT split, doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_sh,
               CAST(SUM(hit) AS BIGINT) AS n_hit
        FROM ev GROUP BY split, doc_id
    ),
    shingle_grain AS (
        SELECT split,
               CAST(COUNT(DISTINCT s) AS BIGINT) AS n_shingles,
               CAST(COUNT(DISTINCT CASE WHEN hit = 1 THEN s END)
                    AS BIGINT) AS n_overlap_train
        FROM ev GROUP BY split
    )
    SELECT g.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           g.n_shingles, g.n_overlap_train,
           CAST(g.n_overlap_train * 1000000 // g.n_shingles AS BIGINT)
               AS leakage_ppm,
           CAST(SUM(CASE WHEN 2 * p.n_hit >= p.n_sh THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_contaminated
    FROM per_doc p JOIN shingle_grain g USING (split)
    GROUP BY g.split, g.n_shingles, g.n_overlap_train
    """,
    tags=("llm", "curation"),
)
def q_curate_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-split LEAKAGE audit — the check that closes the loop
    between q_sample_train_val_test and the contamination family:
    exact dups can never cross the content-hash split (same text →
    same slot), but NEAR-dups and shared boilerplate can, and this
    measures exactly that — per eval split, the distinct-shingle
    overlap with train (leakage ppm) and the count of eval documents
    with ≥50% of their shingles present in train (the docs whose eval
    scores are memorization, not generalization). On this fixture the
    audit reads 63%/60% shingle leakage at sf0.01 rising toward ~100%
    at sf0.1 — the honest signature of a shared-vocab synthetic
    corpus, and precisely the report that would veto these splits for
    a real eval.

    100 TB shape: the split label is a map-only hash expression;
    shingle streams shuffle once on the shingle key (the train-side
    DISTINCT and the eval-side LEFT JOIN share it via AQE); doc-grain
    and split-grain rollups are shrinking aggs. Nothing pairwise —
    identical cost class to q_contamination_ngram."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    slot = hex_hash(F.col("text")) % 100
    split = (
        F.when(slot < 98, "train").when(slot < 99, "val").otherwise("test")
    )
    lab = d.filter(F.size(t) >= 3).select(
        "doc_id", split.alias("split"), shingles(t).alias("shs")
    )
    sh = lab.select(
        "split", "doc_id", F.explode("shs").alias("s")
    ).distinct()
    tr = sh.filter(F.col("split") == "train").select("s").distinct()
    ev = (
        sh.filter(F.col("split") != "train")
        .join(tr.withColumn("hit", F.lit(1)), "s", "left")
        .select(
            "split", "doc_id", "s", F.coalesce("hit", F.lit(0)).alias("hit")
        )
    )
    per_doc = ev.groupBy("split", "doc_id").agg(
        F.count("*").alias("n_sh"), F.sum("hit").alias("n_hit")
    )
    shingle_grain = ev.groupBy("split").agg(
        F.countDistinct("s").alias("n_shingles"),
        F.countDistinct(F.when(F.col("hit") == 1, F.col("s"))).alias(
            "n_overlap_train"
        ),
    )
    return (
        per_doc.join(shingle_grain, "split")
        .groupBy("split", "n_shingles", "n_overlap_train")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(2 * F.col("n_hit") >= F.col("n_sh"), 1).otherwise(0)
            ).alias("n_docs_contaminated"),
        )
        .select(
            "split",
            "n_docs",
            "n_shingles",
            "n_overlap_train",
            F.expr(
                "CAST(n_overlap_train * 1000000 div n_shingles AS LONG)"
            ).alias("leakage_ppm"),
            "n_docs_contaminated",
        )
    )


# ---------------------------------------------------------------------------
# Eval: pass@k (Codex/HumanEval unbiased estimator, integer-exact)
# ---------------------------------------------------------------------------

PASS_AT_K = 5
PASS_SAMPLE_CAP = 20


@query(
    "q_eval_pass_at_k",
    oracle=f"""
    WITH samp AS (
        SELECT user_id AS task_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ok,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
                   AS rn
        FROM events
    ),
    agg AS (
        SELECT task_id,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(ok) AS BIGINT) AS n_correct
        FROM samp WHERE rn <= {PASS_SAMPLE_CAP}
        GROUP BY task_id
    )
    SELECT task_id, n_samples, n_correct,
           CAST(1000000 * n_correct // n_samples AS BIGINT) AS pass1_ppm,
           CAST(1000000 - CASE WHEN n_samples - n_correct >= {PASS_AT_K}
                THEN 1000000
                     * (n_samples - n_correct) * (n_samples - n_correct - 1)
                     * (n_samples - n_correct - 2) * (n_samples - n_correct - 3)
                     * (n_samples - n_correct - 4)
                     // ((n_samples) * (n_samples - 1) * (n_samples - 2)
                         * (n_samples - 3) * (n_samples - 4))
                ELSE 0 END AS BIGINT) AS pass5_ppm
    FROM agg
    WHERE n_samples >= {PASS_AT_K}
    """,
    tags=("llm", "eval"),
)
def q_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k — the unbiased HumanEval estimator
    pass@k = 1 − C(n−c, k)/C(n, k) (Chen et al. 2021), the standard
    metric for scoring k-sample code/task generation, computed per
    task over the first PASS_SAMPLE_CAP samples (events per user in
    arrival order; 'purchase' = a passing sample). The binomial ratio
    is expanded as the falling-factorial product
    Π_{i=0..k−1} (n−c−i)/(n−i), kept integer-exact: one multiply-out
    of k=5 terms per side, then a single ppm division. Capping n at
    20 is both the real-world protocol (n is the sample budget, not
    the corpus) and the overflow guarantee: 20⁵·10⁶ ≈ 3.2e12 ≪ 2⁶³
    at ANY corpus scale, because n never grows with data volume.

    100 TB shape: one row_number shuffle on task_id (the cap keeps
    every later operator at ≤20 rows/task), then a map-side-combinable
    agg and pure per-row arithmetic. Output is task-grain."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    samp = e.select(
        F.col("user_id").alias("task_id"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ok"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= PASS_SAMPLE_CAP)
    agg = samp.groupBy("task_id").agg(
        F.count("*").alias("n_samples"),
        F.sum("ok").alias("n_correct"),
    ).filter(F.col("n_samples") >= PASS_AT_K)
    f = "(n_samples - n_correct)"
    num = " * ".join(f"({f} - {i})" for i in range(PASS_AT_K))
    den = " * ".join(f"(n_samples - {i})" for i in range(PASS_AT_K))
    return agg.select(
        "task_id",
        "n_samples",
        "n_correct",
        F.expr("CAST(1000000 * n_correct div n_samples AS LONG)").alias(
            "pass1_ppm"
        ),
        F.expr(
            f"CAST(1000000 - CASE WHEN {f} >= {PASS_AT_K}"
            f" THEN 1000000 * {num} div ({den})"
            " ELSE 0 END AS LONG)"
        ).alias("pass5_ppm"),
    )


# ---------------------------------------------------------------------------
# Eval: Brier score + skill score vs the climatology baseline
# ---------------------------------------------------------------------------


@query(
    "q_eval_brier",
    oracle="""
    WITH pred AS (
        SELECT event_type,
               (event_id * 37) % 1001 AS p_milli,
               CASE WHEN (event_id * 91) % 1009 < (event_id * 37) % 1001
                    THEN 1 ELSE 0 END AS o
        FROM events
    ),
    agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o) AS BIGINT) AS sum_o,
               CAST(SUM((p_milli - 1000 * o) * (p_milli - 1000 * o))
                    AS BIGINT) AS brier_num
        FROM pred GROUP BY event_type
    ),
    base AS (
        SELECT *, 1000 * sum_o // n AS obar_milli FROM agg
    )
    SELECT event_type, n,
           CAST(1000000 * sum_o // n AS BIGINT) AS base_rate_ppm,
           CAST(brier_num // n AS BIGINT) AS brier_ppm,
           CAST(1000000 - 1000000 * brier_num
                // (n * obar_milli * obar_milli
                    - 2000 * obar_milli * sum_o + 1000000 * sum_o)
                AS BIGINT) AS bss_ppm
    FROM base
    ORDER BY event_type
    """,
    tags=("llm", "eval"),
)
def q_eval_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score + Brier skill score per segment — the probability
    calibration metric that complements q_eval_calibration_bins
    (binned reliability) with the proper-scoring-rule view. Forecasts
    are a deterministic milli-probability stream (event_id·37 mod
    1001); outcomes are drawn by a second independent hash so the
    synthetic forecaster is roughly-but-not-exactly calibrated and
    both metrics land strictly inside (0,1) — neither arm degenerate.
    BSS = 1 − BS/BS_clim against the climatology forecast (the
    group's truncated milli base rate), expanded to the all-integer
    identity Σ(ō−1000o)² = n·ō² − 2000·ō·Σo + 10⁶·Σo so no float
    enters either engine. Every statistic derives from three int64
    aggregates (n, Σo, Σ(p−1000o)²).

    100 TB shape: one map-side-combinable hash agg on event_type,
    then 1-row-per-group arithmetic. brier_num = Σ(p−1000o)² is
    itself ≤ 10⁶·n, so the 10⁶·brier_num product stays under 2⁶³
    only to ~9·10⁶ rows/group; past that, shard the score and
    average (the standard sharded-metric estimator, same note as
    q_eval_auc)."""
    e = load_table(spark, sf_dir, "events")
    pred = e.select(
        "event_type",
        ((F.col("event_id") * 37) % 1001).alias("p_milli"),
        F.when(
            (F.col("event_id") * 91) % 1009
            < (F.col("event_id") * 37) % 1001,
            1,
        )
        .otherwise(0)
        .alias("o"),
    )
    agg = pred.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("o").alias("sum_o"),
        F.sum(
            (F.col("p_milli") - 1000 * F.col("o"))
            * (F.col("p_milli") - 1000 * F.col("o"))
        ).alias("brier_num"),
    )
    base = agg.withColumn("obar_milli", F.expr("1000 * sum_o div n"))
    return base.select(
        "event_type",
        "n",
        F.expr("CAST(1000000 * sum_o div n AS LONG)").alias("base_rate_ppm"),
        F.expr("CAST(brier_num div n AS LONG)").alias("brier_ppm"),
        F.expr(
            "CAST(1000000 - 1000000 * brier_num"
            " div (n * obar_milli * obar_milli"
            " - 2000 * obar_milli * sum_o + 1000000 * sum_o) AS LONG)"
        ).alias("bss_ppm"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Eval: Cohen's kappa (inter-annotator agreement, integer-exact)
# ---------------------------------------------------------------------------

_KAPPA_SHIFT = {"en": "de", "de": "es", "es": "fr", "fr": "zh", "zh": "en"}


def _kappa_b_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{a}' THEN '{b}'" for a, b in _KAPPA_SHIFT.items()
    )
    return f"CASE WHEN doc_id % 5 = 0 THEN CASE {whens} END ELSE lang END"


@query(
    "q_eval_cohen_kappa",
    oracle=f"""
    WITH ann AS (
        SELECT lang AS a, {_kappa_b_sql()} AS b FROM documents
    ),
    po AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_agree
        FROM ann
    ),
    ra AS (SELECT a AS cls, CAST(COUNT(*) AS BIGINT) AS n_a FROM ann
           GROUP BY a),
    cb AS (SELECT b AS cls, CAST(COUNT(*) AS BIGINT) AS n_b FROM ann
           GROUP BY b),
    pe AS (
        SELECT CAST(SUM(COALESCE(n_a, 0) * COALESCE(n_b, 0)) AS BIGINT)
            AS exp_num
        FROM ra FULL OUTER JOIN cb USING (cls)
    )
    SELECT n, n_agree,
           CAST(1000000 * n_agree // n AS BIGINT) AS po_ppm,
           CAST(1000000 * exp_num // (n * n) AS BIGINT) AS pe_ppm,
           CAST(1000000 * (n * n_agree - exp_num) // (n * n - exp_num)
                AS BIGINT) AS kappa_ppm
    FROM po, pe
    """,
    tags=("llm", "eval"),
)
def q_eval_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected inter-annotator agreement,
    the acceptance gate every labeling/rater pipeline runs before
    trusting human (or LLM-judge) labels. Annotator A is the lang
    column; annotator B is a deterministic 20%-perturbed copy (every
    5th doc's label shifted one step around the language cycle), so
    observed agreement is ~0.8 against a ~0.2 chance floor and both
    the agree and disagree arms fire on the fixture. κ =
    (n·agree − Σ_c r_c·c_c) / (n² − Σ_c r_c·c_c) is evaluated by
    cross-multiplication — all int64, one final ppm division, zero
    floats in either engine.

    100 TB shape: two map-side-combinable class-marginal aggs (output
    = |classes| rows) + one 1-row agreement agg; the marginal join is
    a broadcast of |classes| rows. n² caps the exact form at ~3e9
    rows — past that, compute per-shard kappas and pool (same sharded
    note as q_eval_auc/q_eval_brier)."""
    d = load_table(spark, sf_dir, "documents")
    b = F.when(
        F.col("doc_id") % 5 == 0,
        F.coalesce(
            *[
                F.when(F.col("lang") == a, F.lit(bb))
                for a, bb in _KAPPA_SHIFT.items()
            ]
        ),
    ).otherwise(F.col("lang"))
    ann = d.select(F.col("lang").alias("a"), b.alias("b"))
    po = ann.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias(
            "n_agree"
        ),
    )
    ra = ann.groupBy(F.col("a").alias("cls")).agg(F.count("*").alias("n_a"))
    cb = ann.groupBy(F.col("b").alias("cls")).agg(F.count("*").alias("n_b"))
    pe = (
        ra.join(cb, "cls", "full_outer")
        .agg(
            F.sum(
                F.coalesce(F.col("n_a"), F.lit(0))
                * F.coalesce(F.col("n_b"), F.lit(0))
            ).alias("exp_num")
        )
    )
    return (
        F.broadcast(po)
        .crossJoin(F.broadcast(pe))
        .select(
            "n",
            "n_agree",
            F.expr("CAST(1000000 * n_agree div n AS LONG)").alias("po_ppm"),
            F.expr("CAST(1000000 * exp_num div (n * n) AS LONG)").alias(
                "pe_ppm"
            ),
            F.expr(
                "CAST(1000000 * (n * n_agree - exp_num)"
                " div (n * n - exp_num) AS LONG)"
            ).alias("kappa_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer eval: subword fertility by language
# ---------------------------------------------------------------------------


@query(
    "q_tokenizer_fertility",
    oracle="""
    WITH words AS (
        SELECT lang, w
        FROM documents, UNNEST(str_split(lower(text), ' ')) AS t(w)
    ),
    agg AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(GREATEST(1, LENGTH(w) - 2)) AS BIGINT) AS n_pieces,
               CAST(SUM(LENGTH(w)) AS BIGINT) AS n_chars
        FROM words GROUP BY lang
    )
    SELECT lang, n_words, n_pieces,
           CAST(1000000 * n_pieces // n_words AS BIGINT) AS fertility_ppm,
           CAST(1000000 * n_chars // n_words AS BIGINT)
               AS chars_per_word_ppm
    FROM agg ORDER BY lang
    """,
    tags=("llm", "tokenizer"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — pieces-per-word, THE
    cross-lingual tokenizer-quality metric (a tokenizer with fertility
    3 on one language triples that language's effective sequence
    length and cost). The subword inventory here is the fixed-width
    3-gram sliding segmentation (max(1, len−2) pieces per word — the
    same piece family q_tokenizer_unigram_seed scores), so the metric
    is deterministic and integer-exact in both engines; on real
    corpora the identical rollup runs over the trained tokenizer's
    piece counts (q_bpe_encode emits them). Complements
    q_text_tokens (raw counts) and q_bpe_* (training) with the
    per-language serving-cost view.

    100 TB shape: explode is map-only; the rollup is one
    map-side-combinable hash agg on a |languages|-cardinality key —
    about the cheapest shuffle shape that exists. Output is
    |languages| rows."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("lang", F.explode(tokens("text")).alias("w"))
    agg = words.groupBy("lang").agg(
        F.count("*").alias("n_words"),
        F.sum(F.greatest(F.lit(1), F.length("w") - 2)).alias("n_pieces"),
        F.sum(F.length("w")).alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_words",
        "n_pieces",
        F.expr("CAST(1000000 * n_pieces div n_words AS LONG)").alias(
            "fertility_ppm"
        ),
        F.expr("CAST(1000000 * n_chars div n_words AS LONG)").alias(
            "chars_per_word_ppm"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Curation: recency-decay sampling weights (power-of-two halflife)
# ---------------------------------------------------------------------------

DECAY_HALFLIFE_DAYS = 7


@query(
    "q_curate_decay_weights",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(CAST(ts AS DATE)) AS max_d FROM events
    ),
    w AS (
        SELECT event_type,
               1000000 // (1 << (date_diff('day', CAST(ts AS DATE), max_d)
                                 // {DECAY_HALFLIFE_DAYS})) AS w_ppm
        FROM events, mx
    ),
    agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(w_ppm) AS BIGINT) AS weight_sum
        FROM w GROUP BY event_type
    ),
    tot AS (SELECT CAST(SUM(weight_sum) AS BIGINT) AS total FROM agg)
    SELECT event_type, n_events, weight_sum,
           CAST(1000000 * weight_sum // total AS BIGINT) AS share_ppm
    FROM agg, tot ORDER BY event_type
    """,
    tags=("llm", "curate"),
)
def q_curate_decay_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decay sampling weights — the freshness-weighted mix
    plan every continually-pretrained model uses (recent data
    up-weighted, halflife H): w = 2^(−age/H). The decay is evaluated
    as a RIGHT SHIFT of the ppm unit weight (1000000 div 2^(age div
    7 days)) — integer-exact in both engines, no pow()/exp() floats,
    and the truncated staircase IS the documented semantics (ages
    bucket to whole halflives, the form production epoch planners
    use so that weights are stable across replans within a bucket).
    Output: per-segment decayed mass and its normalized ppm share of
    the epoch — the direct input to q_curate_mix_weights-style
    samplers.

    100 TB shape: the anchor max-date is a 1-row broadcast; weights
    are per-row arithmetic; the rollup is one map-side-combinable agg
    on a |segments|-grain key. The shift exponent is capped by the
    fixture's 30-day span at 4 halflives; at any span the weight
    floors to 0 past 20 halflives — ancient data drops out of the
    plan exactly as intended."""
    e = load_table(spark, sf_dir, "events")
    mx = F.broadcast(
        e.agg(F.max(F.col("ts").cast("date")).alias("max_d"))
    )
    w = e.crossJoin(mx).select(
        "event_type",
        F.expr(
            "1000000 div shiftleft(CAST(1 AS LONG),"
            " CAST(datediff(max_d, CAST(ts AS DATE))"
            f" div {DECAY_HALFLIFE_DAYS} AS INT))"
        ).alias("w_ppm"),
    )
    agg = w.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("w_ppm").alias("weight_sum"),
    )
    tot = F.broadcast(agg.agg(F.sum("weight_sum").alias("total")))
    return (
        agg.crossJoin(tot)
        .select(
            "event_type",
            "n_events",
            "weight_sum",
            F.expr("CAST(1000000 * weight_sum div total AS LONG)").alias(
                "share_ppm"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Eval: Bradley–Terry pairwise-preference ratings (arena-style, unrolled MM)
# ---------------------------------------------------------------------------

_BT_ROUNDS = 3


def _bt_fold(pairs: DataFrame, tot: DataFrame) -> DataFrame:
    """The Bradley–Terry MM iteration as ONE aggregate() expression
    (round 15, guide §8 — the r14 pagerank/markov device): the rounds
    used to run as ~3 tiny broadcast-join jobs + a crossJoin renorm
    each (~9 driver jobs over a ≤|contestants|² state); the unrolled
    iteration now folds over the collected pair/total arrays (state
    reaches the expression via collect_list — no driver collect).
    Bit-exact with the loop: identical per-term `g·10⁶ div (r_i+r_j)`
    truncation, integer sums are order-free, and the renorm's Σr binds
    through a 1-element transform() (a let, so the updated array is
    computed once per round). Pinned by
    tests/test_plans.py::test_bradley_terry_fold_matches_loop."""
    arrs = (
        pairs.groupBy()
        .agg(F.collect_list(F.struct("i", "j", "g")).alias("ps"))
        .crossJoin(
            F.broadcast(
                tot.groupBy().agg(
                    F.collect_list(F.struct("i", "wins")).alias("ts")
                )
            )
        )
    )
    fold = f"""
    aggregate(
      sequence(1, {_BT_ROUNDS}),
      transform(ts, t -> struct(t.i AS i, CAST(1000000 AS BIGINT) AS r)),
      (st, _x) -> transform(
        array(
          transform(ts, t -> struct(t.i AS i,
            (1000000 * t.wins) div aggregate(
              filter(ps, p -> p.i = t.i),
              CAST(0 AS BIGINT),
              (acc, p) -> acc + p.g * 1000000 div (
                element_at(map_from_entries(st), t.i)
                + element_at(map_from_entries(st), p.j))
            ) AS r))
        ),
        u -> transform(u, e -> struct(e.i AS i,
          e.r * 5000000 div aggregate(
            u, CAST(0 AS BIGINT), (a, x) -> a + x.r) AS r))
      )[0]
    )
    """
    return arrs.select(F.explode(F.expr(fold)).alias("s")).select(
        F.col("s.i").alias("i"), F.col("s.r").alias("r")
    )


def _bt_oracle() -> str:
    head = """
    WITH seq AS (
      SELECT event_type AS b_t, CAST(ROUND(value * 100) AS BIGINT) AS pb,
             LAG(event_type) OVER w AS a_t,
             LAG(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS pa
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    m AS (
      SELECT a_t, b_t, CASE WHEN pa > pb THEN a_t ELSE b_t END AS win
      FROM seq WHERE a_t IS NOT NULL AND a_t <> b_t
    ),
    pairs AS (
      SELECT i, j, CAST(COUNT(*) AS BIGINT) AS g,
             CAST(SUM(w) AS BIGINT) AS wi FROM (
        SELECT a_t AS i, b_t AS j,
               CASE WHEN win = a_t THEN 1 ELSE 0 END AS w FROM m
        UNION ALL
        SELECT b_t, a_t, CASE WHEN win = b_t THEN 1 ELSE 0 END FROM m)
      GROUP BY i, j
    ),
    tot AS (SELECT i, CAST(SUM(g) AS BIGINT) AS games,
                   CAST(SUM(wi) AS BIGINT) AS wins FROM pairs GROUP BY i),
    n0 AS (SELECT i, CAST(1000000 AS BIGINT) AS r FROM tot)"""
    rounds = []
    for k in range(1, _BT_ROUNDS + 1):
        prev = f"n{k - 1}"
        rounds.append(f"""
    u{k} AS (
      SELECT p.i, 1000000 * t.wins
             // SUM(p.g * 1000000 // (ri.r + rj.r)) AS r
      FROM pairs p JOIN tot t ON p.i = t.i
      JOIN {prev} ri ON ri.i = p.i JOIN {prev} rj ON rj.i = p.j
      GROUP BY p.i, t.wins),
    n{k} AS (SELECT i, r * 5000000 // (SELECT SUM(r) FROM u{k}) AS r
             FROM u{k})""")
    tail = f"""
    SELECT t.i AS event_type, t.games, t.wins,
           CAST(n{_BT_ROUNDS}.r AS BIGINT) AS rating_ppm,
           CAST(RANK() OVER (ORDER BY n{_BT_ROUNDS}.r DESC, t.i)
                AS BIGINT) AS rnk
    FROM tot t JOIN n{_BT_ROUNDS} ON n{_BT_ROUNDS}.i = t.i
    ORDER BY rnk"""
    return head + "," + ",".join(rounds) + tail


@query("q_eval_bradley_terry", oracle=_bt_oracle(), tags=("llm", "eval"))
def q_eval_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry pairwise-preference ratings — the arena/RLHF
    ranking model (Chatbot-Arena-style): contestants are event types,
    a 'match' is each consecutive same-user event pair with the
    higher cent-value winning, and ratings come from the standard MM
    iteration r_i ← W_i / Σ_j g_ij/(r_i+r_j) (Hunter 2004), unrolled
    _BT_ROUNDS=3 rounds with mean-1e6 renormalization per round. All
    arithmetic is integer: the per-opponent term is g·10⁶ div
    (r_i+r_j), so both engines truncate identically every round. The
    win rule ties to the LATER event (pa > pb beats it) — fully
    deterministic, no rand.

    100 TB shape: ONE user_id window shuffle builds the match stream;
    everything after is |contestants|²-grain (≤20 rows here) — the
    iteration is driver-free chained small-frame joins, each a
    broadcast. The match agg is map-side combinable. n·10⁶·wins
    stays in int64 to ~9e12 matches/contestant."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("b_t"),
        cents.alias("pb"),
        F.lag("event_type").over(wu).alias("a_t"),
        F.lag(cents).over(wu).alias("pa"),
    ).filter(F.col("a_t").isNotNull() & (F.col("a_t") != F.col("b_t")))
    m = seq.select(
        "a_t",
        "b_t",
        F.when(F.col("pa") > F.col("pb"), F.col("a_t"))
        .otherwise(F.col("b_t"))
        .alias("win"),
    )
    directed = m.select(
        F.col("a_t").alias("i"),
        F.col("b_t").alias("j"),
        F.when(F.col("win") == F.col("a_t"), 1).otherwise(0).alias("w"),
    ).unionAll(
        m.select(
            F.col("b_t").alias("i"),
            F.col("a_t").alias("j"),
            F.when(F.col("win") == F.col("b_t"), 1).otherwise(0).alias("w"),
        )
    )
    pairs = (
        directed.groupBy("i", "j")
        .agg(F.count("*").alias("g"), F.sum("w").alias("wi"))
        .localCheckpoint()  # ≤|contestants|² rows; rounds reuse it
    )
    tot = pairs.groupBy("i").agg(
        F.sum("g").alias("games"), F.sum("wi").alias("wins")
    ).localCheckpoint()
    r = _bt_fold(pairs, tot)
    return (
        tot.join(r, "i")
        .select(
            F.col("i").alias("event_type"),
            "games",
            "wins",
            F.col("r").cast("long").alias("rating_ppm"),
            F.rank()
            .over(Window.orderBy(F.desc("r"), F.col("i")))
            .cast("long")
            .alias("rnk"),
        )
        .orderBy("rnk")
    )


# ---------------------------------------------------------------------------
# Eval: McNemar's paired-classifier test (gate-change significance)
# ---------------------------------------------------------------------------


@query(
    "q_eval_mcnemar",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        len(list_intersect(list_distinct(str_split(lower(text), ' ')),
            ['the', 'a', 'and', 'order', 'table'])) AS s_en,
        len(list_intersect(list_distinct(str_split(lower(text), ' ')),
            ['le', 'la', 'scan', 'query', 'batch'])) AS s_fr,
        len(list_intersect(list_distinct(str_split(lower(text), ' ')),
            ['der', 'die', 'hash', 'join', 'row'])) AS s_de
      FROM documents
    ),
    cls AS (
      SELECT y,
        CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en > 0
             THEN 1 ELSE 0 END AS a,
        CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= 2
             THEN 1 ELSE 0 END AS b
      FROM s
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
             AS BIGINT) AS b_only,
        CAST(SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)
             AS BIGINT) AS c_only
      FROM cls
    )
    SELECT n, b_only, c_only,
      CAST(1000 * (b_only - c_only) * (b_only - c_only)
           // (b_only + c_only) AS BIGINT) AS chi2_milli,
      CAST(1000 * (ABS(b_only - c_only) - 1) * (ABS(b_only - c_only) - 1)
           // (b_only + c_only) AS BIGINT) AS chi2_cc_milli
    FROM agg
    """,
    tags=("llm", "eval"),
)
def q_eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED classifier decisions — the correct
    significance test for 'did my gate change help?' (comparing two
    classifiers on the same rows; independent-sample tests are wrong
    here). Classifier A is q_text_lang_id's English gate; classifier
    B is the candidate change (require ≥2 stopword hits). Only the
    DISCORDANT cells matter: b = A right where B wrong, c = B right
    where A wrong (measured 44/55 at sf0.1 — both arms fire); χ² =
    (b−c)²/(b+c) and the continuity-corrected (|b−c|−1)²/(b+c), both
    emitted in exact milli units (vs the 3.84 critical value at
    α=0.05 ⇒ 3840 milli). Completes the eval family's comparison
    axis (κ compares annotators; McNemar compares model versions).

    100 TB shape: map-only double-classify in one pass over the
    corpus (the stopword literals are codegen'd array_intersects),
    then a 1-row agg — the cheapest possible paired eval at any
    scale. Integer-exact: counts only, one final milli division."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens("text"))
    sc = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in STOPWORDS.items()
    }
    base = (sc["en"] >= sc["fr"]) & (sc["en"] >= sc["de"])
    cls = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.when(base & (sc["en"] > 0), 1).otherwise(0).alias("a"),
        F.when(base & (sc["en"] >= 2), 1).otherwise(0).alias("b"),
    )
    agg = cls.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1)
            .otherwise(0)
        ).alias("b_only"),
        F.sum(
            F.when((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")), 1)
            .otherwise(0)
        ).alias("c_only"),
    )
    return agg.select(
        "n",
        "b_only",
        "c_only",
        F.expr(
            "CAST(1000 * (b_only - c_only) * (b_only - c_only)"
            " div (b_only + c_only) AS LONG)"
        ).alias("chi2_milli"),
        F.expr(
            "CAST(1000 * (abs(b_only - c_only) - 1)"
            " * (abs(b_only - c_only) - 1)"
            " div (b_only + c_only) AS LONG)"
        ).alias("chi2_cc_milli"),
    )


# ---------------------------------------------------------------------------
# Similarity: MMR diversified re-ranking (greedy, unrolled, oracle-exact)
# ---------------------------------------------------------------------------

MMR_QUERIES = 4
MMR_CAND = 16
MMR_SELECT = 5
MMR_LAMBDA_MILLI = 700  # λ = 0.7


def _mmr_oracle() -> str:
    lam, com = MMR_LAMBDA_MILLI, 1000 - MMR_LAMBDA_MILLI
    cos_q = duck_cosine("b.embedding", "q.qv")
    cos_ab = duck_cosine("ca.embedding", "cb.embedding")
    head = f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id < {MMR_QUERIES}),
    rel AS (
        SELECT q.qid, b.vec_id, b.embedding,
               ROUND({cos_q}, 6) AS rel
        FROM embeddings b, q WHERE b.vec_id >= {MMR_QUERIES}
    ),
    cand AS (
        SELECT qid, vec_id, embedding, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY rel DESC, vec_id) AS rn FROM rel)
        WHERE rn <= {MMR_CAND}
    ),
    sims AS (
        SELECT ca.qid, ca.vec_id AS a, cb.vec_id AS b,
               ROUND({cos_ab}, 6) AS s
        FROM cand ca JOIN cand cb
          ON ca.qid = cb.qid AND ca.vec_id <> cb.vec_id
    ),
    selall1 AS (
        SELECT qid, vec_id, rel, 1 AS pick_rank, rel AS mmr FROM (
            SELECT qid, vec_id, rel, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY rel DESC, vec_id) AS rn FROM cand)
        WHERE rn = 1
    )"""
    rounds = []
    for k in range(2, MMR_SELECT + 1):
        p = k - 1
        mexpr = f"({lam} * rel - {com} * msim) / 1000"
        rounds.append(f"""
    rem{k} AS (
        SELECT c.qid, c.vec_id, c.rel FROM cand c
        LEFT JOIN selall{p} s
          ON s.qid = c.qid AND s.vec_id = c.vec_id
        WHERE s.vec_id IS NULL
    ),
    ms{k} AS (
        SELECT r.qid, r.vec_id, r.rel, MAX(s.s) AS msim
        FROM rem{k} r
        JOIN sims s ON s.qid = r.qid AND s.a = r.vec_id
        JOIN selall{p} t ON t.qid = s.qid AND t.vec_id = s.b
        GROUP BY r.qid, r.vec_id, r.rel
    ),
    pick{k} AS (
        SELECT qid, vec_id, rel, {k} AS pick_rank, mmr FROM (
            SELECT qid, vec_id, rel, {mexpr} AS mmr,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY {mexpr} DESC, vec_id) AS rn
            FROM ms{k})
        WHERE rn = 1
    ),
    selall{k} AS (
        SELECT * FROM selall{p} UNION ALL SELECT * FROM pick{k}
    )""")
    tail = f"""
    SELECT CAST(qid AS BIGINT) AS query_id,
           CAST(pick_rank AS BIGINT) AS pick_rank,
           CAST(vec_id AS BIGINT) AS vec_id,
           rel, ROUND(mmr, 6) AS mmr
    FROM selall{MMR_SELECT}
    ORDER BY query_id, pick_rank"""
    return head + "," + ",".join(rounds) + tail


@query("q_sim_mmr_rerank", oracle=_mmr_oracle(), tags=("llm", "sim"))
def q_sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal-marginal-relevance) diversified re-ranking
    (Carbonell & Goldstein 1998) — the serving rung between top-k
    retrieval and a context window: greedily pick S results
    maximizing λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s), so the
    answer set trades raw relevance for coverage. Per query: exact
    cosine shortlist of C=16, then S=5 unrolled greedy rounds over
    the shortlist's own 16×16 similarity matrix. Relevance and
    pairwise sims are 6-dp-rounded doubles (the cosine parity
    convention), and the MMR combination is the SAME IEEE expression
    ((700·rel − 300·msim)/1000) in both engines, so every argmax is
    bit-reproducible; ties break on vec_id.

    100 TB shape: the only corpus-scale work is the shortlist (one
    broadcast-queries scan + per-query top-C TakeOrdered); the greedy
    loop never touches the corpus again — it runs on |Q|·C rows with
    |Q|·C² pairwise sims, all broadcast-joined, and in production the
    shortlist comes from the IVF/ADC rungs (q_sim_adc_rerank) with
    MMR as a drop-in final stage."""
    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") < MMR_QUERIES).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
    )
    rel = (
        e.filter(F.col("vec_id") >= MMR_QUERIES)
        .crossJoin(q)
        .select(
            "qid",
            "vec_id",
            "embedding",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("rel"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("rel"), "vec_id")
    cand = (
        rel.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= MMR_CAND)
        .drop("rn")
        .localCheckpoint()
    )
    ca = cand.select(
        "qid", F.col("vec_id").alias("a"), F.col("embedding").alias("ea")
    )
    cb = cand.select(
        "qid", F.col("vec_id").alias("b"), F.col("embedding").alias("eb")
    )
    sims = (
        ca.join(cb, "qid")
        .filter(F.col("a") != F.col("b"))
        .select(
            "qid",
            "a",
            "b",
            F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("s"),
        )
        .localCheckpoint()
    )
    cand_slim = cand.select("qid", "vec_id", "rel")
    sel = (
        cand_slim.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select(
            "qid",
            "vec_id",
            "rel",
            F.lit(1).alias("pick_rank"),
            F.col("rel").alias("mmr"),
        )
    )
    lam, com = MMR_LAMBDA_MILLI, 1000 - MMR_LAMBDA_MILLI
    for k in range(2, MMR_SELECT + 1):
        remaining = cand_slim.join(
            sel.select("qid", "vec_id"), ["qid", "vec_id"], "left_anti"
        )
        selb = sel.select("qid", F.col("vec_id").alias("b"))
        ms = (
            remaining.join(
                sims.withColumnRenamed("a", "vec_id"), ["qid", "vec_id"]
            )
            .join(F.broadcast(selb), ["qid", "b"])
            .groupBy("qid", "vec_id", "rel")
            .agg(F.max("s").alias("msim"))
        )
        scored = ms.withColumn(
            "mmr",
            (lam * F.col("rel") - com * F.col("msim")) / F.lit(1000),
        )
        wk = Window.partitionBy("qid").orderBy(F.desc("mmr"), "vec_id")
        pick = (
            scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") == 1)
            .select(
                "qid", "vec_id", "rel",
                F.lit(k).alias("pick_rank"), "mmr",
            )
        )
        sel = sel.unionByName(pick).localCheckpoint()
    return sel.select(
        F.col("qid").cast("long").alias("query_id"),
        F.col("pick_rank").cast("long"),
        F.col("vec_id").cast("long"),
        "rel",
        F.round("mmr", 6).alias("mmr"),
    ).orderBy("query_id", "pick_rank")


# ---------------------------------------------------------------------------
# Similarity: attribute-FILTERED ANN (pre-filter vs post-filter recall)
# ---------------------------------------------------------------------------

ANN_FILTER_LABEL = 3


def _ann_filtered_oracle() -> str:
    ctes, _cb, last_asg, probed = _ivf_ctes()
    cos = duck_cosine("e.embedding", "q.qv")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    truth AS (
        SELECT e.vec_id FROM embeddings e CROSS JOIN q
        WHERE e.label = {ANN_FILTER_LABEL} AND e.vec_id <> 0
        ORDER BY round({cos}, 6) DESC, e.vec_id
        LIMIT {TOPK}
    ),
    post AS (
        SELECT vec_id, label FROM (
            SELECT e.vec_id, e.label FROM embeddings e
            JOIN {last_asg} a USING (vec_id) CROSS JOIN q
            WHERE a.cell IN (SELECT cell FROM {probed})
              AND e.vec_id <> 0
            ORDER BY round({cos}, 6) DESC, e.vec_id
            LIMIT {TOPK}
        ) WHERE label = {ANN_FILTER_LABEL}
    ),
    pre AS (
        SELECT e.vec_id FROM embeddings e
        JOIN {last_asg} a USING (vec_id) CROSS JOIN q
        WHERE a.cell IN (SELECT cell FROM {probed})
          AND e.vec_id <> 0 AND e.label = {ANN_FILTER_LABEL}
        ORDER BY round({cos}, 6) DESC, e.vec_id
        LIMIT {TOPK}
    ),
    u AS (
        SELECT 'post_filter' AS strategy,
               CAST((SELECT COUNT(*) FROM post) AS BIGINT) AS n_returned,
               CAST((SELECT COUNT(*) FROM post
                     WHERE vec_id IN (SELECT vec_id FROM truth))
                    AS BIGINT) AS n_hits
        UNION ALL
        SELECT 'pre_filter',
               CAST((SELECT COUNT(*) FROM pre) AS BIGINT),
               CAST((SELECT COUNT(*) FROM pre
                     WHERE vec_id IN (SELECT vec_id FROM truth))
                    AS BIGINT)
    )
    SELECT strategy, n_returned, n_hits,
           CAST(100 * n_hits // {TOPK} AS BIGINT) AS recall_pct
    FROM u ORDER BY strategy
    """
    )


@query(
    "q_sim_ann_filtered",
    oracle=_ann_filtered_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-FILTERED vector search — the serving feature every
    production ANN system must get right (metadata-constrained
    retrieval): top-k restricted to label = 3, answered two ways over
    the SAME trained IVF index and nprobe budget. POST-filter (rank
    the probed cells unfiltered, then drop non-matching results) is
    what a filter-unaware index does — with a 1/10-selective filter
    it returns ~1 of k asked-for results. PRE-filter (push the
    predicate into the inverted lists, then rank) returns a full k
    and strictly dominates on recall at the same probe budget. Both
    are scored against the exact filtered top-k; the two-row report
    is the pre/post decision every vector store documents
    (filter-aware search beats filter-after-search).

    100 TB shape: identical to q_sim_ann_ivf — codebook broadcast,
    probe scans nprobe/ncells of the lists — plus ONE pushed-down
    predicate on the list scan for the pre-filter arm (free: it's a
    parquet filter when lists are label-partitioned). The exact-truth
    arm exists only for the contract row."""
    cb, members = ivf_train(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    probe_cos = cosine(F.col("cvec"), F.col("qv"))
    probed = (
        cb.crossJoin(qv)
        .select("cell", F.round(probe_cos, 6).alias("pc"))
        .orderBy(F.col("pc").desc(), F.col("cell"))
        .limit(ANN_NPROBE)
        .select("cell")
    )
    cos = cosine(F.col("embedding"), F.col("qv"))
    truth = (
        e.filter(
            (F.col("label") == ANN_FILTER_LABEL) & (F.col("vec_id") != 0)
        )
        .crossJoin(qv)
        .select("vec_id", F.round(cos, 6).alias("c"))
        .orderBy(F.col("c").desc(), F.col("vec_id"))
        .limit(TOPK)
        .select("vec_id")
        .localCheckpoint()
    )
    lists = (
        members.join(F.broadcast(probed), "cell", "left_semi")
        .filter(F.col("vec_id") != 0)
        .join(e.select("vec_id", "label"), "vec_id")
        .crossJoin(qv)
    )
    post = (
        lists.select("vec_id", "label", F.round(cos, 6).alias("c"))
        .orderBy(F.col("c").desc(), F.col("vec_id"))
        .limit(TOPK)
        .filter(F.col("label") == ANN_FILTER_LABEL)
        .select("vec_id")
    )
    pre = (
        lists.filter(F.col("label") == ANN_FILTER_LABEL)
        .select("vec_id", F.round(cos, 6).alias("c"))
        .orderBy(F.col("c").desc(), F.col("vec_id"))
        .limit(TOPK)
        .select("vec_id")
    )

    def score(name: str, picks: DataFrame) -> DataFrame:
        n_ret = picks.agg(F.count("*").alias("n_returned"))
        n_hit = picks.join(truth, "vec_id", "left_semi").agg(
            F.count("*").alias("n_hits")
        )
        return (
            F.broadcast(n_ret)
            .crossJoin(F.broadcast(n_hit))
            .select(
                F.lit(name).alias("strategy"),
                "n_returned",
                "n_hits",
                F.expr(f"CAST(100 * n_hits div {TOPK} AS LONG)").alias(
                    "recall_pct"
                ),
            )
        )

    return (
        score("post_filter", post)
        .unionByName(score("pre_filter", pre))
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# Eval: ROUGE-N overlap (summarization/reference eval, integer-exact F1)
# ---------------------------------------------------------------------------


@query(
    "q_eval_rouge_overlap",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               list_distinct(str_split(lower(text), ' ')) AS toks,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                   AS rn
        FROM documents
    ),
    pairs AS (
        SELECT c.source, c.toks AS ct, r.toks AS rt
        FROM ranked c JOIN ranked r
          ON r.source = c.source AND r.rn = c.rn + 1
        WHERE c.rn % 2 = 1
    ),
    sc AS (
        SELECT source,
               CAST(len(ct) AS BIGINT) AS nc,
               CAST(len(rt) AS BIGINT) AS nr,
               CAST(len(list_intersect(ct, rt)) AS BIGINT) AS o
        FROM pairs
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(o) AS BIGINT) AS overlap_total,
           CAST(1000000 * SUM(o) // SUM(nc) AS BIGINT) AS precision_ppm,
           CAST(1000000 * SUM(o) // SUM(nr) AS BIGINT) AS recall_ppm,
           CAST(2000000 * SUM(o) // (SUM(nc) + SUM(nr)) AS BIGINT)
               AS f1_ppm
    FROM sc GROUP BY source ORDER BY source
    """,
    tags=("llm", "eval"),
)
def q_eval_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 overlap eval — the unigram precision/recall/F1 between
    candidate and reference texts (Lin 2004), the workhorse metric of
    summarization and reference-based generation eval, here over
    consecutive same-source doc pairs (rank-paired within source —
    doc_ids round-robin across sources, so naive doc_id+1 pairing
    would select the EMPTY set and validate nothing; a real harness
    joins model outputs to references on a task key — same plan). The distinct-unigram form makes every
    statistic a set-intersection COUNT, so F1 = 2·o/(nc+nr) is EXACT
    integer ppm — no float enters either engine (F1's usual
    harmonic-mean float trap dissolves under cross-multiplication).
    Corpus-level micro-averaging (sum counts, divide once) per
    source.

    100 TB shape: the cand↔ref join is a shuffle on the task key
    (here doc_id+1 within source — co-partitioned when both sides
    bucket on it); per-pair work is map-only array intersection; the
    rollup is a |sources|-grain map-side-combinable agg."""
    d = load_table(spark, sf_dir, "documents")
    ranked = d.select(
        "source",
        F.array_distinct(tokens("text")).alias("toks"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .alias("rn"),
    )
    c = ranked.filter(F.col("rn") % 2 == 1).select(
        "source", F.col("rn").alias("crn"), F.col("toks").alias("ct")
    )
    r = ranked.select(
        F.col("source").alias("source"),
        (F.col("rn") - 1).alias("crn"),
        F.col("toks").alias("rt"),
    )
    pairs = c.join(r, ["source", "crn"])
    sc = pairs.select(
        "source",
        F.size("ct").cast("long").alias("nc"),
        F.size("rt").cast("long").alias("nr"),
        F.size(F.array_intersect("ct", "rt")).cast("long").alias("o"),
    )
    return (
        sc.groupBy("source")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("o").alias("overlap_total"),
            F.expr(
                "CAST(1000000 * SUM(o) div SUM(nc) AS LONG)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(1000000 * SUM(o) div SUM(nr) AS LONG)"
            ).alias("recall_ppm"),
            F.expr(
                "CAST(2000000 * SUM(o) div (SUM(nc) + SUM(nr)) AS LONG)"
            ).alias("f1_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Text: boilerplate STRIP (the apply step of the line screen)
# ---------------------------------------------------------------------------


@query(
    "q_text_boilerplate_strip",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, source, str_split(lower(text), ' ') AS t
        FROM documents
    ),
    lines AS (
        SELECT doc_id, source,
               unnest(list_transform(
                   range(0, CAST(len(t) // {BOILERPLATE_LINE_TOKENS} AS INT)),
                   i -> array_to_string(
                       t[i * {BOILERPLATE_LINE_TOKENS} + 1
                         : i * {BOILERPLATE_LINE_TOKENS}
                           + {BOILERPLATE_LINE_TOKENS}], ' '))) AS sent
        FROM s WHERE len(t) >= {BOILERPLATE_LINE_TOKENS}
    ),
    f AS (
        SELECT DISTINCT doc_id, sent FROM lines
        WHERE length(sent) >= {BOILERPLATE_MIN_CHARS}
    ),
    boiler AS (
        SELECT sent FROM f GROUP BY sent
        HAVING COUNT(*) >= {BOILERPLATE_MIN_DOCS}
    ),
    marked AS (
        SELECT l.doc_id, l.source, l.sent,
               CASE WHEN b.sent IS NOT NULL THEN 1 ELSE 0 END AS is_b
        FROM lines l LEFT JOIN boiler b ON b.sent = l.sent
    ),
    per_doc AS (
        SELECT doc_id, source,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(is_b) AS BIGINT) AS n_removed,
               CAST(SUM(is_b * length(sent)) AS BIGINT) AS chars_removed
        FROM marked GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_affected,
           CAST(SUM(n_lines) AS BIGINT) AS lines_total,
           CAST(SUM(n_removed) AS BIGINT) AS lines_removed,
           CAST(SUM(chars_removed) AS BIGINT) AS chars_removed,
           CAST(1000000 * SUM(n_removed) // SUM(n_lines) AS BIGINT)
               AS removal_ppm
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("llm", "text"),
)
def q_text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate STRIP — the apply step q_text_boilerplate_lines'
    docstring promises (detection feeds a broadcast filter; this key
    executes it): every line in the recurring set is struck from its
    documents, and the per-source report (docs affected, lines/chars
    removed, removal ppm) is the before/after accounting a C4-style
    cleaning run publishes. Line grain matches the detector exactly
    (non-overlapping 5-token rows — the fixture has no punctuation),
    so detector and stripper can never disagree about what a 'line'
    is — the subtle drift bug real pipelines hit when the two steps
    tokenize independently.

    100 TB shape: the recurring set is HAVING-pruned to the heavy
    tail (the thing that recurs ≥3× across a corpus is, by
    construction, small relative to the corpus) and broadcast; the
    strip is a map-side LEFT JOIN flag + two shrinking aggs
    (doc grain → source grain). The full text is never rebuilt —
    training-shard writers consume the surviving line stream
    directly."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    k = BOILERPLATE_LINE_TOKENS
    line_arr = F.transform(
        F.sequence(F.lit(0), (F.size(t) / k).cast("int") - 1),
        lambda i: F.concat_ws(" ", F.slice(t, i * k + 1, k)),
    )
    lines = (
        d.filter(F.size(t) >= k)
        .select("doc_id", "source", F.explode(line_arr).alias("sent"))
    )
    boiler = (
        lines.filter(F.length("sent") >= BOILERPLATE_MIN_CHARS)
        .select("doc_id", "sent")
        .distinct()
        .groupBy("sent")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= BOILERPLATE_MIN_DOCS)
        .select("sent")
    )
    marked = lines.join(
        F.broadcast(boiler.withColumn("is_b", F.lit(1))), "sent", "left"
    ).select(
        "doc_id",
        "source",
        "sent",
        F.coalesce("is_b", F.lit(0)).alias("is_b"),
    )
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_lines"),
        F.sum("is_b").alias("n_removed"),
        F.sum(F.col("is_b") * F.length("sent")).alias("chars_removed"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("n_removed") > 0, 1).otherwise(0)
            ).alias("n_docs_affected"),
            F.sum("n_lines").alias("lines_total"),
            F.sum("n_removed").alias("lines_removed"),
            F.sum("chars_removed").alias("chars_removed"),
            F.expr(
                "CAST(1000000 * SUM(n_removed) div SUM(n_lines) AS LONG)"
            ).alias("removal_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Curation: hard-negative mining for retrieval training
# ---------------------------------------------------------------------------

HARDNEG_K = 5


def _hardneg_oracle() -> str:
    cos = duck_cosine("e.embedding", "cb.cvec")
    return f"""
    WITH pos AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label AS cell, pos,
               SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pos GROUP BY label, pos
    ),
    cb AS (
        SELECT cell, list(CAST(s AS DOUBLE) / (1000.0 * n) ORDER BY pos)
            AS cvec
        FROM cent GROUP BY cell
    ),
    scored AS (
        SELECT cb.cell, e.vec_id, e.label,
               CAST(FLOOR(round({cos}, 6) * 1000000) AS BIGINT) AS c_ppm
        FROM embeddings e CROSS JOIN cb
    ),
    pospick AS (
        SELECT cell, c_ppm FROM (
            SELECT cell, c_ppm, ROW_NUMBER() OVER (PARTITION BY cell
                ORDER BY c_ppm DESC, vec_id) AS rn
            FROM scored WHERE label = cell)
        WHERE rn <= {HARDNEG_K}
    ),
    negpick AS (
        SELECT cell, c_ppm FROM (
            SELECT cell, c_ppm, ROW_NUMBER() OVER (PARTITION BY cell
                ORDER BY c_ppm DESC, vec_id) AS rn
            FROM scored WHERE label <> cell)
        WHERE rn <= {HARDNEG_K}
    ),
    pm AS (SELECT cell, CAST(SUM(c_ppm) // COUNT(*) AS BIGINT)
               AS pos_mean_ppm FROM pospick GROUP BY cell),
    nm AS (SELECT cell, CAST(SUM(c_ppm) // COUNT(*) AS BIGINT)
               AS hard_neg_mean_ppm FROM negpick GROUP BY cell)
    SELECT CAST(pm.cell AS BIGINT) AS label, pos_mean_ppm,
           hard_neg_mean_ppm,
           pos_mean_ppm - hard_neg_mean_ppm AS margin_ppm
    FROM pm JOIN nm ON nm.cell = pm.cell
    ORDER BY label
    """


@query(
    "q_curate_hard_negatives",
    oracle=_hardneg_oracle(),
    tags=("llm", "similarity", "curate"),
)
def q_curate_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining — the contrastive-training data step
    (DPR/SimCSE lineage): per class, the top-K other-class vectors
    closest to the class centroid are the hard negatives a retrieval
    trainer pairs with the top-K in-class positives, and the
    pos-minus-hardneg MARGIN is the curriculum signal (near-zero or
    negative margin = the class is not linearly separable in this
    space — train on it carefully). Centroids reuse the exact
    milli-quantized M-step (order-independent integer sums); cosines
    floor to ppm ints BEFORE the mean so no double is ever summed
    distributed. On this fixture margins hover near zero and some go
    negative — the honest read of embeddings whose labels are not
    cosine clusters (measured in round 9), which is precisely what
    the audit exists to catch before training wastes compute.

    100 TB shape: one k×dim centroid agg (map-side partial sums),
    one broadcast-codebook scoring pass, and per-class top-K
    (TakeOrdered, K rows/partition). The all-class scoring is one
    scan; production narrows to candidate classes via the IVF route
    table first."""
    e = load_table(spark, sf_dir, "embeddings")
    cb = _ivf_m_step(
        e.select("vec_id", F.col("label").alias("cell"), "embedding")
    )
    c_ppm = F.floor(
        F.round(cosine(F.col("embedding"), F.col("cvec")), 6) * 1000000
    ).cast("long")
    scored = (
        e.crossJoin(F.broadcast(cb))
        .select("cell", "vec_id", "label", c_ppm.alias("c_ppm"))
        .localCheckpoint()
    )
    w = Window.partitionBy("cell").orderBy(
        F.desc("c_ppm"), F.col("vec_id")
    )

    def pick(cond) -> DataFrame:
        return (
            scored.filter(cond)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= HARDNEG_K)
            .groupBy("cell")
            .agg(
                F.expr("CAST(SUM(c_ppm) div COUNT(*) AS LONG)").alias("m")
            )
        )

    pm = pick(F.col("label") == F.col("cell")).withColumnRenamed(
        "m", "pos_mean_ppm"
    )
    nm = pick(F.col("label") != F.col("cell")).withColumnRenamed(
        "m", "hard_neg_mean_ppm"
    )
    return (
        pm.join(nm, "cell")
        .select(
            F.col("cell").cast("long").alias("label"),
            "pos_mean_ppm",
            "hard_neg_mean_ppm",
            (
                F.col("pos_mean_ppm") - F.col("hard_neg_mean_ppm")
            ).alias("margin_ppm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Eval: Fleiss' kappa (multi-rater agreement) + preference transitivity
# ---------------------------------------------------------------------------

_FLEISS_N = 3  # raters


def _fleiss_raters_sql() -> list[str]:
    w1 = " ".join(
        f"WHEN lang = '{a}' THEN '{b}'" for a, b in _KAPPA_SHIFT.items()
    )
    two = {a: _KAPPA_SHIFT[_KAPPA_SHIFT[a]] for a in _KAPPA_SHIFT}
    w2 = " ".join(f"WHEN lang = '{a}' THEN '{b}'" for a, b in two.items())
    return [
        "lang",
        f"CASE WHEN doc_id % 5 = 0 THEN CASE {w1} END ELSE lang END",
        f"CASE WHEN doc_id % 7 = 0 THEN CASE {w2} END ELSE lang END",
    ]


@query(
    "q_eval_fleiss_kappa",
    oracle=f"""
    WITH votes AS (
        {" UNION ALL ".join(f"SELECT doc_id, {r} AS cat FROM documents" for r in _fleiss_raters_sql())}
    ),
    cell AS (
        SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS n_ic
        FROM votes GROUP BY doc_id, cat
    ),
    s AS (
        SELECT CAST(SUM(n_ic * n_ic) AS BIGINT) AS s,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_items
        FROM cell
    ),
    t AS (
        SELECT CAST(SUM(tc * tc) AS BIGINT) AS t FROM (
            SELECT cat, CAST(SUM(n_ic) AS BIGINT) AS tc
            FROM cell GROUP BY cat)
    )
    SELECT n_items,
           CAST({_FLEISS_N} AS BIGINT) AS n_raters,
           s AS sum_sq_cells,
           t AS sum_sq_marginals,
           CAST(1000000 *
                ((s - n_items * {_FLEISS_N}) * (n_items * {_FLEISS_N})
                 - t * {_FLEISS_N - 1})
                // ({_FLEISS_N - 1}
                    * ((n_items * {_FLEISS_N}) * (n_items * {_FLEISS_N})
                       - t))
                AS BIGINT) AS kappa_ppm
    FROM s, t
    """,
    tags=("llm", "eval"),
)
def q_eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLEISS' kappa — chance-corrected agreement for MORE than two
    raters (the panel-labeling acceptance gate; Cohen's κ only
    handles pairs): three deterministic raters (the lang column, the
    20% one-step-shifted copy, and a 14% two-step-shifted copy), so
    agreement is high but imperfect and every algebraic piece is
    non-degenerate. κ = (P̄ − P̄e)/(1 − P̄e) is evaluated fully
    cross-multiplied with the common factor Nn cancelled — with
    S = Σ n_ic², T = Σ_c (Σ n_ic)², N items, n raters:
    κ = ((S−Nn)·Nn − T(n−1)) / ((n−1)((Nn)² − T)) —
    all int64, one ppm division, zero floats in either engine.

    100 TB shape: one (item, category) hash agg over the vote stream
    (map-side combinable; the UNION ALL of raters is a map), a
    |categories|-row marginal agg, and 1-row arithmetic. Binding
    int64 term is 10⁶·((S−Nn)·Nn − T(n−1)) ≲ 1.8·10⁷·N² at n=3, so
    the exact form holds to N ≈ 7·10⁵ items (past sf1's ~5·10⁵
    docs) — beyond that compute per-shard κ and pool (the standing
    sharded-metric note of this family)."""
    d = load_table(spark, sf_dir, "documents")
    shift1 = F.when(
        F.col("doc_id") % 5 == 0,
        F.coalesce(
            *[
                F.when(F.col("lang") == a, F.lit(b))
                for a, b in _KAPPA_SHIFT.items()
            ]
        ),
    ).otherwise(F.col("lang"))
    two = {a: _KAPPA_SHIFT[_KAPPA_SHIFT[a]] for a in _KAPPA_SHIFT}
    shift2 = F.when(
        F.col("doc_id") % 7 == 0,
        F.coalesce(
            *[
                F.when(F.col("lang") == a, F.lit(b))
                for a, b in two.items()
            ]
        ),
    ).otherwise(F.col("lang"))
    votes = (
        d.select("doc_id", F.col("lang").alias("cat"))
        .unionByName(d.select("doc_id", shift1.alias("cat")))
        .unionByName(d.select("doc_id", shift2.alias("cat")))
    )
    cell = votes.groupBy("doc_id", "cat").agg(F.count("*").alias("n_ic"))
    s = cell.agg(
        F.sum(F.col("n_ic") * F.col("n_ic")).alias("s"),
        F.countDistinct("doc_id").alias("n_items"),
    )
    t = (
        cell.groupBy("cat")
        .agg(F.sum("n_ic").alias("tc"))
        .agg(F.sum(F.col("tc") * F.col("tc")).alias("t"))
    )
    n = _FLEISS_N
    return (
        F.broadcast(s)
        .crossJoin(F.broadcast(t))
        .select(
            "n_items",
            F.lit(n).cast("long").alias("n_raters"),
            F.col("s").alias("sum_sq_cells"),
            F.col("t").alias("sum_sq_marginals"),
            F.expr(
                f"CAST(1000000 * ((s - n_items * {n})"
                f" * (n_items * {n})"
                f" - t * {n - 1})"
                f" div ({n - 1}"
                f" * ((n_items * {n}) * (n_items * {n}) - t))"
                " AS LONG)"
            ).alias("kappa_ppm"),
        )
    )


@query(
    "q_eval_pref_transitivity",
    oracle="""
    WITH seq AS (
      SELECT event_type AS b_t, CAST(ROUND(value * 100) AS BIGINT) AS pb,
             LAG(event_type) OVER w AS a_t,
             LAG(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS pa
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    m AS (
      SELECT a_t, b_t, CASE WHEN pa > pb THEN a_t ELSE b_t END AS win
      FROM seq WHERE a_t IS NOT NULL AND a_t <> b_t
    ),
    maj AS (  -- i -> j iff i beats j strictly more often (no edge on tie)
      SELECT i, j FROM (
        SELECT LEAST(a_t, b_t) AS x, GREATEST(a_t, b_t) AS y,
               CAST(SUM(CASE WHEN win = LEAST(a_t, b_t)
                        THEN 1 ELSE 0 END) AS BIGINT) AS wx,
               CAST(COUNT(*) AS BIGINT) AS g
        FROM m GROUP BY x, y
      ), LATERAL (SELECT CASE WHEN 2 * wx > g THEN x ELSE y END AS i,
                         CASE WHEN 2 * wx > g THEN y ELSE x END AS j)
      WHERE 2 * wx <> g
    ),
    tri AS (
      SELECT a.i AS p, a.j AS q, b.j AS r
      FROM maj a JOIN maj b ON b.i = a.j
      WHERE a.i <> b.j
    ),
    cyc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cyclic FROM tri
      JOIN maj c ON c.i = tri.r AND c.j = tri.p
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM maj),
    chains AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_chains FROM tri)
    SELECT n_edges, n_chains,
           CAST(n_cyclic // 3 AS BIGINT) AS n_cycles,
           CAST(1000000 * (n_cyclic // 3)
                // GREATEST(n_chains, 1) AS BIGINT) AS cycle_ppm
    FROM tot, chains, cyc
    """,
    tags=("llm", "eval"),
)
def q_eval_pref_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference TRANSITIVITY audit — the assumption check behind
    every Bradley-Terry/Elo fit (q_eval_bradley_terry): a rating
    model presumes i≻j≻k ⟹ i≻k, and panels violate it. Over the
    same match stream, build the strict-majority tournament digraph
    (no edge on exact ties), count directed 2-chains and the cyclic
    triangles among them (each 3-cycle appears once per rotation →
    divide by 3), and report the cycle rate. A high rate means the
    single-scalar rating is the wrong model for this preference
    data — the audit that says whether the arena leaderboard means
    anything.

    100 TB shape: identical first shuffle to the BT key (ONE user_id
    window); everything after is |contestants|²-grain (≤20 rows) —
    chain/cycle counting is broadcast self-joins on a tiny frame at
    any match volume."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("b_t"),
        cents.alias("pb"),
        F.lag("event_type").over(wu).alias("a_t"),
        F.lag(cents).over(wu).alias("pa"),
    ).filter(F.col("a_t").isNotNull() & (F.col("a_t") != F.col("b_t")))
    m = seq.select(
        F.least("a_t", "b_t").alias("x"),
        F.greatest("a_t", "b_t").alias("y"),
        F.when(
            F.when(F.col("pa") > F.col("pb"), F.col("a_t"))
            .otherwise(F.col("b_t"))
            == F.least("a_t", "b_t"),
            1,
        )
        .otherwise(0)
        .alias("wx"),
    )
    pair = m.groupBy("x", "y").agg(
        F.sum("wx").alias("wx"), F.count("*").alias("g")
    )
    maj = (
        pair.filter(2 * F.col("wx") != F.col("g"))
        .select(
            F.when(2 * F.col("wx") > F.col("g"), F.col("x"))
            .otherwise(F.col("y"))
            .alias("i"),
            F.when(2 * F.col("wx") > F.col("g"), F.col("y"))
            .otherwise(F.col("x"))
            .alias("j"),
        )
        .localCheckpoint()
    )
    a = maj.select(F.col("i").alias("p"), F.col("j").alias("q"))
    b = maj.select(F.col("i").alias("q"), F.col("j").alias("r"))
    tri = a.join(b, "q").filter(F.col("p") != F.col("r"))
    c = maj.select(F.col("i").alias("r"), F.col("j").alias("p"))
    cyc = tri.join(c, ["r", "p"]).agg(F.count("*").alias("n_cyclic"))
    tot = maj.agg(F.count("*").alias("n_edges"))
    chains = tri.agg(F.count("*").alias("n_chains"))
    return (
        F.broadcast(tot)
        .crossJoin(F.broadcast(chains))
        .crossJoin(F.broadcast(cyc))
        .select(
            "n_edges",
            "n_chains",
            F.expr("CAST(n_cyclic div 3 AS LONG)").alias("n_cycles"),
            F.expr(
                "CAST(1000000 * (n_cyclic div 3)"
                " div GREATEST(n_chains, 1) AS LONG)"
            ).alias("cycle_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of a lexical and a vector arm
# ---------------------------------------------------------------------------

RRF_K0 = 60  # the standard RRF damping constant (Cormack et al. 2009)
RRF_LIST_K = 50  # depth of each input ranking
RRF_FUSE_K = 10  # fused results served


def _rrf_gain_table() -> list[tuple[int, int]]:
    """(rank, gain) with gain = round(1e9/(K0+rank)) — Python-computed
    integer constants shared verbatim by both engines (the q_eval_ndcg
    trick), so no engine divides floats."""
    return [(r, round(1e9 / (RRF_K0 + r))) for r in range(1, RRF_LIST_K + 1)]


def _rrf_oracle() -> str:
    values = ", ".join(f"({r}, {g})" for r, g in _rrf_gain_table())
    return f"""
    WITH dt AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    ),
    tok AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(t) AS tok FROM dt)
    ),
    dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY 1),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    qt AS (SELECT tok FROM tok WHERE doc_id = 0),
    lex AS (
        SELECT t.doc_id, CAST(SUM(nd.n_docs // f.df) AS BIGINT) AS s
        FROM tok t JOIN qt USING (tok) JOIN dfq f USING (tok) CROSS JOIN nd
        WHERE t.doc_id <> 0 GROUP BY 1
    ),
    lexr AS (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS lrank
        FROM lex
    ),
    qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
    vec AS (
        SELECT e.vec_id AS doc_id,
               round({duck_cosine('e.embedding', 'qv.v')}, 6) AS c
        FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
    ),
    vecr AS (
        SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS vrank
        FROM vec
    ),
    g(rnk, gain) AS (SELECT * FROM (VALUES {values})),
    fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               CAST(COALESCE(l.lrank, 0) AS BIGINT) AS lex_rank,
               CAST(COALESCE(v.vrank, 0) AS BIGINT) AS vec_rank,
               CAST(COALESCE(gl.gain, 0) + COALESCE(gv.gain, 0) AS BIGINT)
                   AS rrf_x1e9
        FROM (SELECT * FROM lexr WHERE lrank <= {RRF_LIST_K}) l
        FULL OUTER JOIN (SELECT * FROM vecr WHERE vrank <= {RRF_LIST_K}) v
          ON l.doc_id = v.doc_id
        LEFT JOIN g gl ON gl.rnk = l.lrank
        LEFT JOIN g gv ON gv.rnk = v.vrank
    )
    SELECT doc_id, lex_rank, vec_rank, rrf_x1e9
    FROM fused ORDER BY rrf_x1e9 DESC, doc_id LIMIT {RRF_FUSE_K}
    """


@query(
    "q_sim_rrf_fusion",
    oracle=_rrf_oracle(),
    tags=("llm", "similarity", "retrieval"),
)
def q_sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009) — THE production pattern for RAG serving: a lexical arm
    (shared-token match, rarity-weighted by the exact integer
    idf-proxy N div df) and a vector arm (exact cosine) each produce a
    top-50 ranking for the query document, and fusion scores each hit
    Σ 1/(60+rank) over the lists it appears in.  The 1/(60+r) gains
    are Python-precomputed integer constants (×1e9) shared verbatim by
    both engines, so fusion is exact int64 addition; absent-from-list
    is rank 0 / gain 0 (never NULL — keeps both engines' dtypes
    integral).

    100 TB shape: the lexical arm is an inverted-index join (query
    tokens broadcast, df table shuffles on token — the vocabulary
    grain); the vector arm is the broadcast-query cosine scan; each
    arm keeps k rows, so fusion joins two 50-row tables with a 50-row
    broadcast gain table.  Swapping either arm for its ANN/index
    variant (q_sim_ann_ivf, q_read_secondary_index) changes recall,
    not the fusion algebra."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    dfq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    nd = d.agg(F.count("*").alias("n_docs"))
    qt = tok.filter(F.col("doc_id") == 0).select("tok")
    lex = (
        tok.filter(F.col("doc_id") != 0)
        .join(F.broadcast(qt), "tok")
        .join(dfq, "tok")
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id")
        .agg(F.sum(F.expr("n_docs div df")).alias("s"))
    )
    wl = Window.orderBy(F.col("s").desc(), "doc_id")
    lexr = lex.select(
        "doc_id", F.row_number().over(wl).alias("lrank")
    ).filter(F.col("lrank") <= RRF_LIST_K)
    e = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("v"))
    )
    vec = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("v")), 6).alias("c"),
        )
    )
    wv = Window.orderBy(F.col("c").desc(), "doc_id")
    vecr = vec.select(
        "doc_id", F.row_number().over(wv).alias("vrank")
    ).filter(F.col("vrank") <= RRF_LIST_K)
    gain = F.broadcast(
        spark.createDataFrame(_rrf_gain_table(), "rnk int, gain long")
    )
    fused = (
        lexr.join(vecr, "doc_id", "full_outer")
        .join(gain.alias("gl"), F.col("lrank") == F.col("gl.rnk"), "left")
        .join(gain.alias("gv"), F.col("vrank") == F.col("gv.rnk"), "left")
        .select(
            "doc_id",
            F.coalesce("lrank", F.lit(0)).cast("long").alias("lex_rank"),
            F.coalesce("vrank", F.lit(0)).cast("long").alias("vec_rank"),
            (
                F.coalesce(F.col("gl.gain"), F.lit(0))
                + F.coalesce(F.col("gv.gain"), F.lit(0))
            ).alias("rrf_x1e9"),
        )
    )
    return fused.orderBy(F.col("rrf_x1e9").desc(), "doc_id").limit(RRF_FUSE_K)


# ---------------------------------------------------------------------------
# Linear quality-classifier inference over hashed features
# ---------------------------------------------------------------------------

CLF_BUCKETS = 64  # shares the hashing-trick feature space
CLF_W_RANGE = 1001  # weights uniform in [-500, +500]


def _clf_oracle() -> str:
    bucket = f"({duck_hex_hash('tok')} % {CLF_BUCKETS})"
    salted = "'w:' || CAST(" + bucket + " AS VARCHAR)"
    wt = f"({duck_hex_hash(salted)} % {CLF_W_RANGE}) - 500"
    return f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(str_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    w AS (SELECT doc_id, lang, {wt} AS wt FROM tok),
    ds AS (
        SELECT doc_id, lang,
               CAST(SUM(wt) * 1000 // COUNT(*) AS BIGINT) AS score
        FROM w GROUP BY 1, 2
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           CAST(SUM(CASE WHEN score >= 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS keep_ppm,
           CAST(SUM(score) // COUNT(*) AS BIGINT) AS mean_score_x1000,
           CAST(MIN(score) AS BIGINT) AS min_score_x1000,
           CAST(MAX(score) AS BIGINT) AS max_score_x1000
    FROM ds GROUP BY lang
    """


@query(
    "q_text_classifier_linear",
    oracle=_clf_oracle(),
    tags=("llm", "text", "curation"),
)
def q_text_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE at corpus scale — the
    fastText-style filter every LLM data pipeline runs between crawl
    and train: each document scores Σ w[h(token)] / n_tokens over a
    hashed feature space (the q_feature_hashing_trick buckets), and
    keep/drop is a threshold on the score.  The weight vector is a
    deterministic function of the bucket id (md5-derived integers in
    [−500, 500]) standing in for trained weights — the INFERENCE
    dataflow (hash → weight lookup → per-doc mean → threshold → per-
    language keep-rate report) is exactly production's, and is the
    part that must scale.  Scores are exact integer ×1000; per-lang
    keep ppm, mean/min/max scores emitted.

    100 TB shape: weights are a 64-row broadcast (a real model is a
    few-MB broadcast — same plan); scoring folds into one map-side
    agg at doc grain, the report into a second at lang grain; docs
    stream through once, nothing driver-side."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("tok")
    )
    bucket = hex_hash(F.col("tok")) % CLF_BUCKETS
    wt = (
        hex_hash(F.concat(F.lit("w:"), bucket.cast("string")))
        % CLF_W_RANGE
        - 500
    )
    ds = tok.select("doc_id", "lang", wt.alias("wt")).groupBy(
        "doc_id", "lang"
    ).agg(F.expr("CAST(sum(wt) * 1000 div count(*) AS LONG)").alias("score"))
    return ds.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("score") >= 0, 1).otherwise(0)).alias("n_keep"),
        F.expr(
            "CAST(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) * 1000000 "
            "div count(*) AS LONG)"
        ).alias("keep_ppm"),
        F.expr("CAST(sum(score) div count(*) AS LONG)").alias(
            "mean_score_x1000"
        ),
        F.min("score").alias("min_score_x1000"),
        F.max("score").alias("max_score_x1000"),
    )


# ---------------------------------------------------------------------------
# Krippendorff's alpha: agreement under MISSING ratings
# ---------------------------------------------------------------------------


def _kripp_rater_sqls() -> list[str]:
    """The three Fleiss raters as SQL value expressions."""
    w1 = " ".join(
        f"WHEN lang = '{a}' THEN '{b}'" for a, b in _KAPPA_SHIFT.items()
    )
    two = {a: _KAPPA_SHIFT[_KAPPA_SHIFT[a]] for a in _KAPPA_SHIFT}
    w2 = " ".join(f"WHEN lang = '{a}' THEN '{b}'" for a, b in two.items())
    return [
        "lang",
        f"CASE WHEN doc_id % 5 = 0 THEN CASE {w1} END ELSE lang END",
        f"CASE WHEN doc_id % 7 = 0 THEN CASE {w2} END ELSE lang END",
    ]


def _kripp_oracle() -> str:
    arms = []
    for r, expr in enumerate(_kripp_rater_sqls()):
        present = duck_hex_hash(f"'kr{r}:' || CAST(doc_id AS VARCHAR)")
        arms.append(
            f"SELECT doc_id, {expr} AS cat FROM documents "
            f"WHERE {present} % 4 <> 0"
        )
    votes = " UNION ALL ".join(arms)
    return f"""
    WITH votes AS ({votes}),
    per_cat AS (
        SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS n
        FROM votes GROUP BY 1, 2
    ),
    per_unit AS (
        SELECT doc_id, CAST(SUM(n) AS BIGINT) AS m,
               CAST(SUM(n * n) AS BIGINT) AS s
        FROM per_cat GROUP BY 1
    ),
    pairable AS (SELECT * FROM per_unit WHERE m >= 2),
    a AS (
        SELECT CAST(SUM((m * m - s) // (m - 1)) AS BIGINT) AS do_num,
               CAST(SUM(m) AS BIGINT) AS n_pairable,
               CAST(COUNT(*) AS BIGINT) AS n_units
        FROM pairable
    ),
    marg AS (
        SELECT p.cat, CAST(SUM(p.n) AS BIGINT) AS nc
        FROM per_cat p JOIN pairable u ON p.doc_id = u.doc_id
        GROUP BY 1
    ),
    de AS (
        SELECT CAST((SELECT n_pairable FROM a) * (SELECT n_pairable FROM a)
                    - SUM(nc * nc) AS BIGINT) AS de_num
        FROM marg
    ),
    excl AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_excluded
        FROM (SELECT doc_id FROM documents
              EXCEPT SELECT doc_id FROM pairable)
    )
    SELECT a.n_units, excl.n_excluded, a.n_pairable, a.do_num, de.de_num,
           CAST(1000000 - 1000000 * a.do_num * (a.n_pairable - 1)
                // de.de_num AS BIGINT) AS alpha_ppm
    FROM a, de, excl
    """


@query(
    "q_eval_krippendorff_alpha",
    oracle=_kripp_oracle(),
    tags=("llm", "eval"),
)
def q_eval_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha — the agreement coefficient that handles
    MISSING ratings, which is why real annotation campaigns report it
    over Fleiss' κ (raters never label every unit): the three Fleiss
    raters each skip ~25% of documents (hash-deterministic), units
    with <2 remaining ratings are excluded (the Krippendorff
    pairability rule — n_excluded emitted as the arm Fleiss cannot
    have), and nominal-metric disagreement is computed from the
    coincidence matrix: α = 1 − (n..−1)·Σᵤ[(mᵤ²−Sᵤ)/(mᵤ−1)] /
    (n..² − Σ_c n_c²).  With ≤3 raters every per-unit term divides
    exactly (mᵤ²−Sᵤ counts ordered disagreeing pairs), so the whole
    statistic is exact int64 and one ppm division — zero floats in
    either engine.

    Int64 bound: 1e6·A·(n..−1) with A ≤ n.. — safe past 10⁶ rated
    units; shard-and-pool per the family note beyond.  100 TB shape:
    one (unit, category) hash agg over the vote stream, a marginal
    agg at category grain, 1-row arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    shift1 = F.when(
        F.col("doc_id") % 5 == 0,
        F.coalesce(
            *[
                F.when(F.col("lang") == a, F.lit(b))
                for a, b in _KAPPA_SHIFT.items()
            ]
        ),
    ).otherwise(F.col("lang"))
    two = {a: _KAPPA_SHIFT[_KAPPA_SHIFT[a]] for a in _KAPPA_SHIFT}
    shift2 = F.when(
        F.col("doc_id") % 7 == 0,
        F.coalesce(
            *[F.when(F.col("lang") == a, F.lit(b)) for a, b in two.items()]
        ),
    ).otherwise(F.col("lang"))
    arms = []
    for r, cat in enumerate([F.col("lang"), shift1, shift2]):
        present = (
            hex_hash(
                F.concat(F.lit(f"kr{r}:"), F.col("doc_id").cast("string"))
            )
            % 4
            != 0
        )
        arms.append(d.filter(present).select("doc_id", cat.alias("cat")))
    votes = arms[0].unionByName(arms[1]).unionByName(arms[2])
    per_cat = votes.groupBy("doc_id", "cat").agg(F.count("*").alias("n"))
    per_unit = per_cat.groupBy("doc_id").agg(
        F.sum("n").alias("m"), F.sum(F.expr("n * n")).alias("s")
    )
    pairable = per_unit.filter(F.col("m") >= 2)
    a = pairable.agg(
        F.sum(F.expr("(m * m - s) div (m - 1)")).alias("do_num"),
        F.sum("m").alias("n_pairable"),
        F.count("*").alias("n_units"),
    )
    marg = per_cat.join(pairable.select("doc_id"), "doc_id").groupBy(
        "cat"
    ).agg(F.sum("n").alias("nc"))
    de = marg.crossJoin(F.broadcast(a.select("n_pairable"))).agg(
        F.expr(
            "CAST(max(n_pairable) * max(n_pairable) - sum(nc * nc) AS LONG)"
        ).alias("de_num")
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    excl = (
        n_docs.crossJoin(a.select(F.col("n_units").alias("nu")))
        .select((F.col("n_docs") - F.col("nu")).alias("n_excluded"))
    )
    return (
        a.crossJoin(F.broadcast(de))
        .crossJoin(F.broadcast(excl))
        .select(
            "n_units",
            "n_excluded",
            "n_pairable",
            "do_num",
            "de_num",
            F.expr(
                "CAST(1000000 - 1000000 * do_num * (n_pairable - 1) "
                "div de_num AS LONG)"
            ).alias("alpha_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer: unigram-LM EM round (Viterbi E-step + integer re-score M-step)
# ---------------------------------------------------------------------------

UNIGRAM_EM_BIG = 1 << 40

_UNIGRAM_EM_SEED_PARTS = " || ".join(
    f"""CASE WHEN length(tok) >= {L}
        THEN list_transform(range(1, length(tok) - {L} + 2),
                            i -> substr(tok, CAST(i AS INT), {L}))
        ELSE CAST([] AS VARCHAR[]) END"""
    for L in UNIGRAM_PIECE_LENS
)


_UNIGRAM_EM_CTES = f"""
    WITH RECURSIVE tk AS (
        SELECT unnest(str_split(lower(text), ' ')) AS tok FROM documents
    ),
    toks AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM tk WHERE length(tok) >= 1 GROUP BY tok
    ),
    chars AS (
        SELECT piece, CAST(SUM(n_tok) AS BIGINT) AS n_old
        FROM (
            SELECT unnest(list_transform(range(1, length(tok) + 1),
                          i -> substr(tok, CAST(i AS INT), 1))) AS piece,
                   n_tok
            FROM toks
        ) GROUP BY piece
    ),
    seed AS (
        SELECT piece, CAST(SUM(n_tok) AS BIGINT) AS n_old
        FROM (
            SELECT unnest({_UNIGRAM_EM_SEED_PARTS}) AS piece, n_tok
            FROM toks
        ) GROUP BY piece
        ORDER BY n_old DESC, piece LIMIT {UNIGRAM_SEED_TOPK}
    ),
    vocab0 AS (SELECT * FROM chars UNION ALL SELECT * FROM seed),
    tot AS (SELECT CAST(SUM(n_old) AS BIGINT) AS total FROM vocab0),
    vocab AS (
        SELECT piece, n_old,
               CAST(length(printf('%b', tot.total))
                    - length(printf('%b', n_old)) AS BIGINT)
                   AS neg_log2p_bits_old
        FROM vocab0 CROSS JOIN tot
    ),
    vm AS (
        SELECT MAP(list(piece ORDER BY piece),
                   list(neg_log2p_bits_old ORDER BY piece)) AS m
        FROM vocab
    ),
    dp AS (
        SELECT tok, n_tok, 0 AS i,
               [CAST(0 AS BIGINT)] AS dpv, CAST([] AS BIGINT[]) AS bp
        FROM toks
        UNION ALL
        SELECT tok, n_tok, i + 1,
               list_append(dpv, list_min(c)),
               list_append(bp, CAST(list_position(c, list_min(c)) AS BIGINT))
        FROM (
            SELECT tok, n_tok, i, dpv, bp,
                   [CASE WHEN L <= i + 1
                         THEN dpv[i + 2 - L]
                              + coalesce(map_extract(vm.m,
                                    substr(tok, CAST(i + 2 - L AS INT),
                                           CAST(L AS INT)))[1],
                                  CAST({UNIGRAM_EM_BIG} AS BIGINT))
                         ELSE CAST({UNIGRAM_EM_BIG} AS BIGINT) END
                    FOR L IN [1, 2, 3, 4]] AS c
            FROM dp, vm
            WHERE i < length(tok)
        ) s
    ),
    fin AS (SELECT tok, n_tok, bp FROM dp WHERE i = length(tok)),
    bt AS (
        SELECT tok, n_tok, CAST(length(tok) AS BIGINT) AS pos, bp,
               CAST([] AS VARCHAR[]) AS pieces
        FROM fin
        UNION ALL
        SELECT tok, n_tok, pos - bp[CAST(pos AS INT)], bp,
               list_append(pieces,
                   substr(tok, CAST(pos - bp[CAST(pos AS INT)] + 1 AS INT),
                          CAST(bp[CAST(pos AS INT)] AS INT)))
        FROM bt WHERE pos > 0
    ),
    used AS (SELECT unnest(pieces) AS piece, n_tok FROM bt WHERE pos = 0),
    em AS (
        SELECT piece, CAST(SUM(n_tok) AS BIGINT) AS n_em
        FROM used GROUP BY piece
    ),
    ntot AS (SELECT CAST(SUM(n_em) AS BIGINT) AS total_em FROM em)"""

_UNIGRAM_EM_FINAL = """
    SELECT v.piece, v.n_old, v.neg_log2p_bits_old,
           CAST(coalesce(e.n_em, 0) AS BIGINT) AS n_em,
           CAST(CASE WHEN coalesce(e.n_em, 0) > 0
                     THEN length(printf('%b', ntot.total_em))
                          - length(printf('%b', e.n_em))
                     ELSE -1 END AS BIGINT) AS neg_log2p_bits_em
    FROM vocab v LEFT JOIN em e USING (piece) CROSS JOIN ntot
"""


@query(
    "q_tokenizer_unigram_em",
    oracle=_UNIGRAM_EM_CTES + _UNIGRAM_EM_FINAL,
    tags=("llm", "tokenizer"),
)
@session_cached
def q_tokenizer_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE unigram-LM EM re-estimation round (Kudo 2018, SentencePiece
    §3.2) on top of q_tokenizer_unigram_seed's candidate vocabulary:
    E-step = per-token Viterbi segmentation against the current
    integer piece costs, M-step = maximum-likelihood re-score from the
    segmentation's piece counts. The vocabulary is the seed's top-K
    substrings (lengths {2,3,4}) UNION all single characters — the
    SentencePiece invariant that keeps every token segmentable. Costs
    are the integer-exact ⌊log₂⌋ proxy shared with the seed
    (bit-length of the vocabulary total minus bit-length of the piece
    count), so both engines run the SAME exact arithmetic — no float
    log anywhere. Hard-EM (Viterbi counts, not lattice posteriors) is
    the documented variant: expected counts need forward-backward in
    rationals, while Viterbi counts keep the whole round integral, and
    Gibbs' inequality still guarantees the re-scored model assigns the
    segmentation no less likelihood than the old one (the monotone
    invariant pinned in tests/test_new_key_invariants.py from the
    emitted n_old/n_em columns). Viterbi ties break toward the
    SHORTEST piece deterministically in both engines: the candidate
    array is ordered by piece length 1..4 and first-minimum wins
    (array_position / list_position both return the first match).
    Unused pieces stay in the output with n_em = 0 and sentinel score
    -1 (the rows SentencePiece's pruning step would drop) — sentinel,
    not NULL, so the differential dtype stays int64 on both sides.

    Scale shape (100 TB): the E-step runs at DISTINCT-TOKEN grain
    weighted by occurrence count — Zipf bounds that table regardless
    of corpus size — and the DP itself is a map-only higher-order
    fold, O(len × 4) per token with NO per-position shuffle or
    suffix structure. The vocabulary (|chars| + top-K ≈ 54 rows) is
    the one driver-side collect — metadata-grain by construction
    (same sanctioned class as bounded pivot-value discovery) — and
    re-enters the plan as a literal map broadcast into codegen. The
    M-step is one map-side-combinable hash agg on the piece key plus
    a 1-row total broadcast. Counts are bounded by corpus token
    occurrences (int64-safe past 10¹⁸ tokens).

    Reference parity: the reference has no tokenizer trainer (its
    lambda/main.py:74 chain stops at decode); this is [EXT] surface
    mandated by the LLM-pipeline blueprint, completing the family
    BPE (pair counts → merge → train → encode) / WordPiece / unigram
    (seed → EM)."""
    # Session-cached (round 15): prune and encode both rebuild this
    # key's whole EM chain per call (prune → em, encode → prune → em —
    # the family re-ran the corpus token agg + Viterbi up to 3×). The
    # returned frame is vocabulary-grain (≤ ~54 rows), checkpointed so
    # the chain materializes exactly once per session; the em key's
    # own bench row carries the build (it sorts first in the family).
    d = load_table(spark, sf_dir, "documents")
    # localCheckpoint: the distinct-token table (Zipf-bounded, ~31 rows
    # at every fixture SF) feeds chars, the seed top-k, AND the Viterbi
    # pass — without the checkpoint each consumer re-runs the corpus
    # token aggregation (measured 10x wall at sf0.1), the
    # q_dedup_clusters flat-lineage pattern.
    toks = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .where(F.length("tok") >= 1)
        .groupBy("tok")
        .agg(F.count("*").alias("n_tok"))
        .localCheckpoint()
    )
    chars = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok)),"
                    " i -> substring(tok, i, 1))"
                )
            ).alias("piece"),
            "n_tok",
        )
        .groupBy("piece")
        .agg(F.sum("n_tok").alias("n_old"))
    )
    parts = [
        F.expr(
            f"CASE WHEN length(tok) >= {L}"
            f" THEN transform(sequence(1, length(tok) - {L} + 1),"
            f" i -> substring(tok, i, {L}))"
            f" ELSE CAST(array() AS array<string>) END"
        )
        for L in UNIGRAM_PIECE_LENS
    ]
    seed = (
        toks.select(F.explode(F.concat(*parts)).alias("piece"), "n_tok")
        .groupBy("piece")
        .agg(F.sum("n_tok").alias("n_old"))
        .orderBy(F.desc("n_old"), "piece")
        .limit(UNIGRAM_SEED_TOPK)
    )
    vocab0 = chars.unionByName(seed)
    tot = F.broadcast(vocab0.agg(F.sum("n_old").alias("total")))
    bitlen = lambda c: F.length(F.conv(c.cast("string"), 10, 2))  # noqa: E731
    vocab = vocab0.crossJoin(tot).select(
        "piece",
        "n_old",
        (bitlen(F.col("total")) - bitlen(F.col("n_old")))
        .cast("long")
        .alias("neg_log2p_bits_old"),
    )
    # |chars| + top-K rows -> driver: the one bounded metadata-grain
    # collect; the vocabulary re-enters the plan as a literal map.
    ventries = {
        r["piece"]: (int(r["n_old"]), int(r["neg_log2p_bits_old"]))
        for r in vocab.collect()
    }
    cost_map = F.create_map(
        *[
            x
            for p in sorted(ventries)
            for x in (F.lit(p), F.lit(ventries[p][1]))
        ]
    )
    big = F.lit(UNIGRAM_EM_BIG)
    lens4 = F.array(*[F.lit(L) for L in (1, 2, 3, 4)])

    def dp_step(acc, i):
        cands = F.transform(
            lens4,
            lambda L: F.when(
                L <= i,
                F.element_at(acc["dp"], i - L + 1)
                + F.coalesce(
                    F.element_at(cost_map, F.col("tok").substr(i - L + 1, L)),
                    big,
                ),
            ).otherwise(big),
        )
        return F.struct(
            F.concat(acc["dp"], F.array(F.array_min(cands))).alias("dp"),
            F.concat(
                acc["bp"],
                F.array(
                    F.array_position(cands, F.array_min(cands)).cast("int")
                ),
            ).alias("bp"),
        )

    dp_init = F.struct(
        F.array(F.lit(0).cast("long")).alias("dp"),
        F.expr("CAST(array() AS array<int>)").alias("bp"),
    )
    vit = toks.select(
        "tok",
        "n_tok",
        F.aggregate(
            F.sequence(F.lit(1), F.length("tok")), dp_init, dp_step
        ).alias("v"),
    )

    def bt_step(acc, _i):
        piece_len = F.element_at(F.col("v.bp"), acc["pos"])
        return F.when(
            acc["pos"] > 0,
            F.struct(
                (acc["pos"] - piece_len).cast("int").alias("pos"),
                F.concat(
                    acc["pieces"],
                    F.array(
                        F.col("tok").substr(
                            acc["pos"] - piece_len + 1, piece_len
                        )
                    ),
                ).alias("pieces"),
            ),
        ).otherwise(acc)

    bt_init = F.struct(
        F.length("tok").cast("int").alias("pos"),
        F.expr("CAST(array() AS array<string>)").alias("pieces"),
    )
    seg = vit.select(
        "n_tok",
        F.aggregate(
            F.sequence(F.lit(1), F.length("tok")), bt_init, bt_step
        ).alias("s"),
    )
    # checkpoint the piece counts (<= vocab rows): ntot, the output
    # join, and q_tokenizer_unigram_prune's four consumers all re-read
    # this frame — without it each reference replays the Viterbi fold.
    em = (
        seg.select(F.explode(F.col("s.pieces")).alias("piece"), "n_tok")
        .groupBy("piece")
        .agg(F.sum("n_tok").alias("n_em"))
        .localCheckpoint()
    )
    vdf = spark.createDataFrame(
        [(p, n, c) for p, (n, c) in sorted(ventries.items())],
        "piece string, n_old long, neg_log2p_bits_old long",
    )
    ntot = F.broadcast(em.agg(F.sum("n_em").alias("total_em")))
    out = (
        vdf.join(F.broadcast(em), "piece", "left")
        .crossJoin(ntot)
        .select(
            "piece",
            "n_old",
            "neg_log2p_bits_old",
            F.coalesce(F.col("n_em"), F.lit(0)).cast("long").alias("n_em"),
            F.when(
                F.coalesce(F.col("n_em"), F.lit(0)) > 0,
                bitlen(F.col("total_em")) - bitlen(F.col("n_em")),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("neg_log2p_bits_em"),
        )
        .localCheckpoint()
    )
    return out


# ---------------------------------------------------------------------------
# ANN index maintenance: incremental vector-batch ADD to the persisted
# IVF-PQ index (assign -> encode -> append -> occupancy-drift check)
# ---------------------------------------------------------------------------

# INC_ADD_MOD moved next to the graph constants (shared fixture)


def _inc_add_oracle() -> str:
    base_w = f"vec_id % {INC_ADD_MOD} <> {INC_ADD_MOD - 1}"
    batch_w = f"vec_id % {INC_ADD_MOD} = {INC_ADD_MOD - 1}"
    pq = _pq_ctes(ADC_M, ADC_K, src="base")
    iv, iv_cb, iv_asg, iv_probed = _ivf_ctes(
        "iv_", nprobe=ADC_NPROBE, src="base"
    )
    ctes = (
        [
            f"base AS (SELECT * FROM embeddings WHERE {base_w})",
            f"batch AS (SELECT * FROM embeddings WHERE {batch_w})",
        ]
        + pq
        + iv
        + [
            f"""newm AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({duck_cosine("e.embedding", "c.cvec")},
                                      6) DESC,
                                c.cell
                   ) AS rn
            FROM batch e CROSS JOIN {iv_cb} c
        ) WHERE rn = 1
    )""",
            f"""allm AS (
        SELECT vec_id, cell FROM {iv_asg}
        UNION ALL SELECT vec_id, cell FROM newm
    )""",
            """bpos AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS v, len(embedding) AS dlen
        FROM batch
    )""",
            f"""bcomp AS (
        SELECT vec_id, CAST((pos * {ADC_M}) // dlen AS INTEGER) AS subspace,
               pos, CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT) AS sv
        FROM bpos
    )""",
            f"""bdist AS (
        SELECT c.vec_id, c.subspace, t.code,
               SUM((c.sv - t.icv) * (c.sv - t.icv)) AS dist
        FROM bcomp c JOIN cent{PQ_ITERS - 1} t
          ON t.subspace = c.subspace AND t.pos = c.pos
        GROUP BY c.vec_id, c.subspace, t.code
    )""",
            """bcodes AS (
        SELECT vec_id, subspace, code FROM (
            SELECT vec_id, subspace, code,
                   row_number() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY dist, code) AS rn
            FROM bdist
        ) WHERE rn = 1
    )""",
            f"""allc AS (
        SELECT vec_id, subspace, code FROM asg{PQ_ITERS}
        UNION ALL SELECT vec_id, subspace, code FROM bcodes
    )""",
            """qc AS (
        SELECT subspace, pos, sv AS qsv FROM comp WHERE vec_id = 0
    )""",
            f"""lut AS (
        SELECT c.subspace, c.code,
               SUM((q.qsv - c.icv) * (q.qsv - c.icv)) AS l
        FROM cent{PQ_ITERS - 1} c
        JOIN qc q ON q.subspace = c.subspace AND q.pos = c.pos
        GROUP BY c.subspace, c.code
    )""",
            f"""cand AS (
        SELECT a.vec_id, a.cell FROM allm a
        WHERE a.cell IN (SELECT cell FROM {iv_probed}) AND a.vec_id <> 0
    )""",
            """occ AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM allm GROUP BY cell
    )""",
            """st AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_total_after,
               CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM occ
    )""",
            """pend AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells_split_pending
        FROM occ, st WHERE occ.n * st.n_cells > st.n_total_after
    )""",
            """nb AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_added FROM batch
    )""",
            f"""topk AS (
        SELECT c.vec_id, c.cell, CAST(SUM(l.l) AS BIGINT) AS adc_dist
        FROM cand c
        JOIN allc pc ON pc.vec_id = c.vec_id
        JOIN lut l ON l.subspace = pc.subspace AND l.code = pc.code
        GROUP BY c.vec_id, c.cell
        ORDER BY adc_dist, c.vec_id
        LIMIT {TOPK}
    )""",
        ]
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT t.vec_id, t.cell, t.adc_dist,
           nb.n_added, st.n_total_after, pend.n_cells_split_pending
    FROM topk t, nb, st, pend
    ORDER BY t.adc_dist, t.vec_id
    """
    )


@query(
    "q_sim_ivf_incremental_add",
    oracle=_inc_add_oracle(),
    tags=("llm", "similarity", "index", "maintenance"),
)
def q_sim_ivf_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance — the nightly job every production
    vector store runs (Faiss add_with_ids / Milvus insert): a new
    vector batch (vec_id % {INC_ADD_MOD} == {INC_ADD_MOD-1}, ~12% of
    the corpus) is added to the ALREADY-TRAINED IVF-PQ index WITHOUT
    retraining — each new vector is (1) assigned to its nearest
    existing coarse cell (one broadcast of the k-row codebook), (2)
    PQ-encoded against the frozen subspace codebooks (broadcast
    min-distance code pick, the exact pq_train assignment arithmetic),
    and (3) appended to the inverted lists and code table.  The SAME
    ADC query then serves from the updated index, and the occupancy
    drift check runs on the post-add lists: cells whose occupancy
    exceeds the mean (the q_sim_ivf_cell_split SPLIT_RATIO=1.0
    trigger, integer form n·n_cells > n_total) are counted as
    split-pending — the signal that schedules the next retrain/split.
    Proof columns: n_added, n_total_after (conservation: base + batch,
    pinned in tests), n_cells_split_pending.  The serving-equivalence
    law (add-then-serve finds the new vectors exactly where
    full-membership assignment would put them, because assignment IS
    the E-step against the same frozen codebook) is pinned in
    tests/test_ann_recall.py.

    100 TB shape: the add is O(batch) — batch × k-row codebook
    broadcast for assignment, batch × (M·K)-row codebook broadcast
    for encoding, two appends that in the persisted layout
    (q_sim_index_persist) are partition-local parquet appends by
    cell; the base index is NEVER rewritten or rescanned.  The drift
    check is one |cells|-row agg.  Serving cost is unchanged: probe
    ADC_NPROBE cells, M bytes/vector ADC scan."""
    base_w = f"vec_id % {INC_ADD_MOD} != {INC_ADD_MOD - 1}"
    comp, cent, codes = pq_train(
        spark, sf_dir, ADC_M, ADC_K, where=base_w
    )
    cb, members = ivf_train(spark, sf_dir, where=base_w)
    e = load_table(spark, sf_dir, "embeddings")
    batch = e.filter(f"vec_id % {INC_ADD_MOD} = {INC_ADD_MOD - 1}")
    # (1) assign: nearest existing cell — the E-step against the
    # FROZEN codebook (no M-step: that is the point of incremental)
    new_members = _ivf_e_step(
        batch.select("vec_id", "embedding"), cb
    )
    # (2) encode: frozen PQ codebooks, same min-(dist, code) pick
    bcomp = (
        batch.select(
            "vec_id",
            F.size("embedding").alias("dlen"),
            F.posexplode("embedding").alias("pos", "v"),
        )
        .select(
            "vec_id",
            F.expr(f"CAST((pos * {ADC_M}) DIV dlen AS INT)").alias(
                "subspace"
            ),
            "pos",
            F.floor(F.col("v").cast("double") * 1000)
            .cast("long")
            .alias("sv"),
        )
    )
    diff = F.col("sv") - F.col("icv")
    bdist = (
        bcomp.join(F.broadcast(cent), ["subspace", "pos"])
        .groupBy("vec_id", "subspace", "code")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    bcodes = (
        bdist.groupBy("vec_id", "subspace")
        .agg(F.min(F.struct("dist", "code")).alias("p"))
        .select(
            "vec_id",
            "subspace",
            F.col("p.code").alias("code"),
            F.col("p.dist").alias("dist"),
        )
    )
    # (3) append — in the persisted layout these are cell-partitioned
    # parquet appends; here the union is the logical equivalent
    members2 = members.unionByName(new_members)
    codes2 = codes.unionByName(bcodes)
    served = _adc_serve(spark, sf_dir, cent, codes2, cb, members2, TOPK)
    occ = members2.groupBy("cell").agg(F.count("*").alias("n"))
    st = occ.agg(
        F.sum("n").alias("n_total_after"),
        F.count("*").alias("n_cells"),
    )
    pend = (
        occ.crossJoin(F.broadcast(st))
        .filter(F.expr("n * n_cells > n_total_after"))
        .agg(F.count("*").alias("n_cells_split_pending"))
    )
    n_added = batch.agg(F.count("*").alias("n_added"))
    return (
        served.crossJoin(F.broadcast(n_added))
        .crossJoin(F.broadcast(st.select("n_total_after")))
        .crossJoin(F.broadcast(pend))
        .select(
            "vec_id",
            "cell",
            "adc_dist",
            "n_added",
            "n_total_after",
            "n_cells_split_pending",
        )
    )


# ---------------------------------------------------------------------------
# ANN index maintenance: tombstone DELETE from the IVF-PQ index
# (the symmetric half of incremental add)
# ---------------------------------------------------------------------------

DEL_MOD = 16  # vec_id % DEL_MOD == 3 joins the delete batch ...
DEL_LABEL = 7  # ... plus ALL of label 7 — a skewed (cluster-hot) delete


def _ivf_delete_oracle() -> str:
    pq = _pq_ctes(ADC_M, ADC_K)
    iv, _cb, iv_asg, iv_probed = _ivf_ctes("iv_", nprobe=ADC_NPROBE)
    ctes = pq + iv + [
        f"""tomb AS (
        SELECT vec_id FROM embeddings
        WHERE (vec_id % {DEL_MOD} = 3 OR label = {DEL_LABEL})
          AND vec_id <> 0
    )""",
        """qc AS (
        SELECT subspace, pos, sv AS qsv FROM comp WHERE vec_id = 0
    )""",
        f"""lut AS (
        SELECT c.subspace, c.code,
               SUM((q.qsv - c.icv) * (q.qsv - c.icv)) AS l
        FROM cent{PQ_ITERS - 1} c
        JOIN qc q ON q.subspace = c.subspace AND q.pos = c.pos
        GROUP BY c.subspace, c.code
    )""",
        f"""cand AS (
        SELECT a.vec_id, a.cell FROM {iv_asg} a
        WHERE a.cell IN (SELECT cell FROM {iv_probed}) AND a.vec_id <> 0
          AND a.vec_id NOT IN (SELECT vec_id FROM tomb)
    )""",
        f"""occ AS (
        SELECT cell,
               CAST(COUNT(*) AS BIGINT) AS n_listed,
               CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dead
        FROM {iv_asg} a LEFT JOIN tomb t USING (vec_id)
        GROUP BY cell
    )""",
        """st AS (
        SELECT CAST(SUM(n_listed) AS BIGINT) AS n_listed,
               CAST(SUM(n_dead) AS BIGINT) AS n_dead,
               CAST(COUNT(CASE WHEN n_dead * 5 > n_listed THEN 1 END)
                    AS BIGINT) AS n_cells_rewrite_pending
        FROM occ
    )""",
        f"""topk AS (
        SELECT c.vec_id, c.cell, CAST(SUM(l.l) AS BIGINT) AS adc_dist
        FROM cand c
        JOIN asg{PQ_ITERS} pc ON pc.vec_id = c.vec_id
        JOIN lut l ON l.subspace = pc.subspace AND l.code = pc.code
        GROUP BY c.vec_id, c.cell
        ORDER BY adc_dist, c.vec_id
        LIMIT {TOPK}
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT t.vec_id, t.cell, t.adc_dist,
           st.n_listed, st.n_dead, st.n_cells_rewrite_pending
    FROM topk t, st
    ORDER BY t.adc_dist, t.vec_id
    """
    )


@query(
    "q_sim_ivf_delete",
    oracle=_ivf_delete_oracle(),
    tags=("llm", "similarity", "index", "maintenance"),
)
def q_sim_ivf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOMBSTONE delete from the trained IVF-PQ index — the symmetric
    half of q_sim_ivf_incremental_add and the same MoR trade the
    table-format keys make (q_read_position_deletes): deleting a
    SKEWED vector batch (a modular ~6% slice PLUS every label-
    {DEL_LABEL} vector — the churn shape of dropping one customer or
    one stale document cluster) does NOT rewrite the
    inverted lists — a tombstone set is recorded, serving applies it
    as a broadcast ANTI join on the probed candidates (never the full
    index), and deleted vectors can no longer be returned.  The lists
    keep the dead entries until the REWRITE trigger fires: cells whose
    dead fraction exceeds 20% (integer form n_dead·5 > n_listed) are
    counted rewrite-pending — the list-compaction scheduling signal,
    exactly analogous to equality→position delete compaction
    (q_maintenance_delete_compaction) on the lakehouse side.  Proof
    columns: n_listed (lists still carry every vector), n_dead,
    n_cells_rewrite_pending; the serving guarantee (no tombstoned id
    in any top-k, and the survivors identical to serving an index
    that never contained the deleted batch) is pinned in
    tests/test_ann_recall.py.

    100 TB shape: delete is O(batch) metadata — the tombstone set
    broadcasts (bloom-filter form at billions); serving adds one
    broadcast anti join on the PROBED candidates only (ADC_NPROBE
    cells, never a full-index scan); the dead-fraction audit is one
    |cells|-row agg off the membership table."""
    comp, cent, codes = pq_train(spark, sf_dir, ADC_M, ADC_K)
    cb, members = ivf_train(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    tomb = e.filter(
        f"(vec_id % {DEL_MOD} = 3 OR label = {DEL_LABEL}) AND vec_id != 0"
    ).select("vec_id")
    live_members = members.join(F.broadcast(tomb), "vec_id", "left_anti")
    served = _adc_serve(spark, sf_dir, cent, codes, cb, live_members, TOPK)
    occ = (
        members.join(
            F.broadcast(tomb.withColumn("dead", F.lit(1))), "vec_id", "left"
        )
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_listed"),
            F.sum(F.coalesce(F.col("dead"), F.lit(0))).alias("n_dead"),
        )
    )
    st = occ.agg(
        F.sum("n_listed").alias("n_listed"),
        F.sum("n_dead").alias("n_dead"),
        F.count(F.when(F.expr("n_dead * 5 > n_listed"), 1)).alias(
            "n_cells_rewrite_pending"
        ),
    )
    return served.crossJoin(F.broadcast(st)).select(
        "vec_id",
        "cell",
        "adc_dist",
        "n_listed",
        "n_dead",
        "n_cells_rewrite_pending",
    )


def _ivf_compact_oracle() -> str:
    pq = _pq_ctes(ADC_M, ADC_K)
    iv, _cb, iv_asg, iv_probed = _ivf_ctes("iv_", nprobe=ADC_NPROBE)
    ctes = pq + iv + [
        f"""tomb AS (
        SELECT vec_id FROM embeddings
        WHERE (vec_id % {DEL_MOD} = 3 OR label = {DEL_LABEL})
          AND vec_id <> 0
    )""",
        f"""occ AS (
        SELECT cell,
               CAST(COUNT(*) AS BIGINT) AS n_listed,
               CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dead
        FROM {iv_asg} a LEFT JOIN tomb t USING (vec_id)
        GROUP BY cell
    )""",
        """rw AS (SELECT cell FROM occ WHERE n_dead * 5 > n_listed)""",
        f"""mc AS (
        SELECT a.vec_id, a.cell
        FROM {iv_asg} a LEFT JOIN tomb t USING (vec_id)
        WHERE NOT (a.cell IN (SELECT cell FROM rw)
                   AND t.vec_id IS NOT NULL)
    )""",
        """occ2 AS (
        SELECT cell,
               CAST(COUNT(*) AS BIGINT) AS n_listed,
               CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dead
        FROM mc a LEFT JOIN tomb t USING (vec_id)
        GROUP BY cell
    )""",
        """st AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rw)
                   AS n_cells_rewritten,
               (SELECT CAST(SUM(n_dead) AS BIGINT) FROM occ
                WHERE cell IN (SELECT cell FROM rw)) AS n_rows_purged,
               CAST(SUM(n_listed) AS BIGINT) AS n_listed_after,
               CAST(SUM(n_dead) AS BIGINT) AS n_dead_after,
               CAST(COUNT(CASE WHEN n_dead * 5 > n_listed THEN 1 END)
                    AS BIGINT) AS n_pending_after
        FROM occ2
    )""",
        """qc AS (
        SELECT subspace, pos, sv AS qsv FROM comp WHERE vec_id = 0
    )""",
        f"""lut AS (
        SELECT c.subspace, c.code,
               SUM((q.qsv - c.icv) * (q.qsv - c.icv)) AS l
        FROM cent{PQ_ITERS - 1} c
        JOIN qc q ON q.subspace = c.subspace AND q.pos = c.pos
        GROUP BY c.subspace, c.code
    )""",
        f"""cand AS (
        SELECT a.vec_id, a.cell FROM mc a
        WHERE a.cell IN (SELECT cell FROM {iv_probed}) AND a.vec_id <> 0
          AND a.vec_id NOT IN (SELECT vec_id FROM tomb)
    )""",
        f"""topk AS (
        SELECT c.vec_id, c.cell, CAST(SUM(l.l) AS BIGINT) AS adc_dist
        FROM cand c
        JOIN asg{PQ_ITERS} pc ON pc.vec_id = c.vec_id
        JOIN lut l ON l.subspace = pc.subspace AND l.code = pc.code
        GROUP BY c.vec_id, c.cell
        ORDER BY adc_dist, c.vec_id
        LIMIT {TOPK}
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT t.vec_id, t.cell, t.adc_dist,
           st.n_cells_rewritten, st.n_rows_purged,
           st.n_listed_after, st.n_dead_after, st.n_pending_after
    FROM topk t, st
    ORDER BY t.adc_dist, t.vec_id
    """
    )


@query(
    "q_sim_ivf_compact",
    oracle=_ivf_compact_oracle(),
    tags=("llm", "similarity", "index", "maintenance"),
)
def q_sim_ivf_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIST COMPACTION — the step that completes the tombstone-delete
    lifecycle q_sim_ivf_delete opened: every cell whose dead fraction
    crossed the 20% trigger (the same integer ``n_dead·5 > n_listed``
    audit the delete key emits as ``n_cells_rewrite_pending``) is
    REWRITTEN without its tombstoned rows; clean cells keep their dead
    entries (rewriting them would be write amplification for nothing —
    the MoR trade, exactly the equality→position compaction economics
    of q_maintenance_delete_compaction on the lakehouse side). Serving
    after compaction applies the residual tombstone mask — now a
    no-op on every rewritten cell — and returns EXACTLY what serving
    with pure tombstones returned (the serve-equivalence law, pinned
    with the post-compaction invariants in tests/test_ann_recall.py).
    Proof columns: n_cells_rewritten, n_rows_purged (dead rows
    physically dropped), n_listed_after, n_dead_after (dead entries
    surviving in clean cells: n_dead − purged), and n_pending_after —
    structurally zero, because rewritten cells have no dead rows and
    clean cells were under the trigger by definition: compaction
    always clears the audit.

    100 TB shape: the trigger audit is one |cells|-row agg; the
    rewrite touches ONLY the pending cells' list files (cell-
    partitioned storage ⇒ a partition-pruned overwrite of the dead
    fraction's partitions, never a full-index rewrite); the purge
    predicate is a broadcast of the tombstone set against those cells
    alone. Cite: reference keeps no vector index — this extends the
    BASELINE.json LLM-pipeline mandate's ANN lifecycle family."""
    comp, cent, codes = pq_train(spark, sf_dir, ADC_M, ADC_K)
    cb, members = ivf_train(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    tomb = e.filter(
        f"(vec_id % {DEL_MOD} = 3 OR label = {DEL_LABEL}) AND vec_id != 0"
    ).select("vec_id")
    occ = (
        members.join(
            F.broadcast(tomb.withColumn("dead", F.lit(1))), "vec_id", "left"
        )
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_listed"),
            F.sum(F.coalesce(F.col("dead"), F.lit(0))).alias("n_dead"),
        )
        .localCheckpoint()  # metadata grain: |cells| rows, reused 3x
    )
    rw = occ.filter(F.expr("n_dead * 5 > n_listed")).select("cell")
    # the physical rewrite: drop dead rows from pending cells only
    mc = (
        members.join(F.broadcast(rw.withColumn("rwf", F.lit(1))), "cell", "left")
        .join(F.broadcast(tomb.withColumn("dead", F.lit(1))), "vec_id", "left")
        .filter(
            ~(
                (F.coalesce(F.col("rwf"), F.lit(0)) == 1)
                & (F.coalesce(F.col("dead"), F.lit(0)) == 1)
            )
        )
        .select("vec_id", "cell", "dead")
    )
    occ2 = mc.groupBy("cell").agg(
        F.count("*").alias("n_listed"),
        F.sum(F.coalesce(F.col("dead"), F.lit(0))).alias("n_dead"),
    )
    purged = (
        occ.join(F.broadcast(rw), "cell", "left_semi")
        .agg(F.sum("n_dead").alias("n_rows_purged"))
    )
    st = (
        occ2.agg(
            F.sum("n_listed").alias("n_listed_after"),
            F.sum("n_dead").alias("n_dead_after"),
            F.count(F.when(F.expr("n_dead * 5 > n_listed"), 1)).alias(
                "n_pending_after"
            ),
        )
        .crossJoin(F.broadcast(rw.agg(F.count("*").alias("n_cells_rewritten"))))
        .crossJoin(F.broadcast(purged))
    )
    live = mc.select("vec_id", "cell").join(
        F.broadcast(tomb), "vec_id", "left_anti"
    )
    served = _adc_serve(spark, sf_dir, cent, codes, cb, live, TOPK)
    return served.crossJoin(F.broadcast(st)).select(
        "vec_id",
        "cell",
        "adc_dist",
        "n_cells_rewritten",
        "n_rows_purged",
        "n_listed_after",
        "n_dead_after",
        "n_pending_after",
    )


# ---------------------------------------------------------------------------
# Tokenizer: unigram-LM vocabulary PRUNE (post-EM likelihood-loss ranking)
# ---------------------------------------------------------------------------

UNIGRAM_PRUNE_KEEP = 15  # multi-char pieces surviving the prune


_UNIGRAM_PRUNE_CTES = _UNIGRAM_EM_CTES + f""",
    emtab AS ({_UNIGRAM_EM_FINAL}),
    chcost AS (
        SELECT piece AS ch,
               CASE WHEN neg_log2p_bits_em >= 0 THEN neg_log2p_bits_em
                    ELSE neg_log2p_bits_old END AS ccost
        FROM emtab WHERE length(piece) = 1
    ),
    multi AS (
        SELECT piece, n_em, neg_log2p_bits_em, neg_log2p_bits_old
        FROM emtab WHERE length(piece) > 1
    ),
    alt AS (
        SELECT m.piece,
               CAST(SUM(c.ccost) AS BIGINT) AS alt_cost_bits
        FROM (
            SELECT piece,
                   unnest(list_transform(range(1, length(piece) + 1),
                          i -> substr(piece, CAST(i AS INT), 1))) AS ch
            FROM multi
        ) m JOIN chcost c USING (ch)
        GROUP BY m.piece
    ),
    scoredp AS (
        SELECT m.piece, m.n_em,
               CAST(CASE WHEN m.n_em > 0 THEN m.neg_log2p_bits_em
                         ELSE -1 END AS BIGINT) AS cost_bits,
               a.alt_cost_bits,
               CAST(CASE WHEN m.n_em > 0
                         THEN m.n_em * (a.alt_cost_bits
                                        - m.neg_log2p_bits_em)
                         ELSE 0 END AS BIGINT) AS loss_bits
        FROM multi m JOIN alt a USING (piece)
    ),
    rankedp AS (
        SELECT *, row_number() OVER (ORDER BY loss_bits DESC, piece)
                   AS rnk
        FROM scoredp
    ),
    prunetab AS (
    SELECT piece, n_em, cost_bits, alt_cost_bits, loss_bits,
           rnk <= {UNIGRAM_PRUNE_KEEP} AS kept
    FROM rankedp
    UNION ALL
    SELECT piece, e.n_em,
           CAST(CASE WHEN e.n_em > 0 THEN e.neg_log2p_bits_em
                     ELSE e.neg_log2p_bits_old END AS BIGINT),
           CAST(-1 AS BIGINT), CAST(0 AS BIGINT), TRUE
    FROM emtab e WHERE length(piece) = 1
    )"""


@query(
    "q_tokenizer_unigram_prune",
    oracle=_UNIGRAM_PRUNE_CTES + " SELECT * FROM prunetab",
    tags=("llm", "tokenizer"),
)
@session_cached
def q_tokenizer_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM vocabulary PRUNE — the step after the EM round that
    completes the SentencePiece trainer loop (seed → EM → prune, Kudo
    2018 §3.2 step 3): every multi-character piece is scored by the
    corpus likelihood LOSS its removal would cause, approximated the
    way SentencePiece does — its occurrences fall back to the
    cheapest guaranteed segmentation (single characters, which are
    never pruned), so loss = n_em · (Σ char_costs − piece_cost) in
    exact integer bits. Characters score with their EM cost, falling
    back to the seed cost for any character the Viterbi pass absorbed
    entirely into pieces (n_em = 0 — both engines apply the same
    rule). The top {UNIGRAM_PRUNE_KEEP} loss-ranked multi-char pieces
    are kept (ties by piece string — deterministic), the rest marked
    dropped; unused pieces (n_em = 0) carry loss 0 and fall out
    first, exactly the pruning order the EM docstring promises.
    Single characters are always kept (the segmentability invariant).
    Prune laws (chars kept, n_em=0 never outranks a used piece, kept
    count exact) are pinned in tests/test_new_key_invariants.py.

    100 TB shape: everything here runs on the VOCABULARY table (≤
    |chars| + top-K rows — catalog grain, not corpus grain): the char
    explode is over ≤4-char pieces, the cost join broadcasts the
    ≤40-row char table, and the ranking window sorts ≤30 rows. The
    corpus-scale work is the EM round it builds on (distinct-token
    Viterbi, map-only), re-run through the same cached lineage."""
    # Session-cached like the EM frame above: encode re-derives the
    # prune table per call; the output is vocabulary-grain.
    em = q_tokenizer_unigram_em(spark, sf_dir)
    chcost = em.filter(F.length("piece") == 1).select(
        F.col("piece").alias("ch"),
        F.when(
            F.col("neg_log2p_bits_em") >= 0, F.col("neg_log2p_bits_em")
        )
        .otherwise(F.col("neg_log2p_bits_old"))
        .alias("ccost"),
    )
    multi = em.filter(F.length("piece") > 1)
    alt = (
        multi.select(
            "piece",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(piece)),"
                    " i -> substring(piece, i, 1))"
                )
            ).alias("ch"),
        )
        .join(F.broadcast(chcost), "ch")
        .groupBy("piece")
        .agg(F.sum("ccost").cast("long").alias("alt_cost_bits"))
    )
    scoredp = multi.join(alt, "piece").select(
        "piece",
        "n_em",
        F.when(F.col("n_em") > 0, F.col("neg_log2p_bits_em"))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("cost_bits"),
        "alt_cost_bits",
        F.when(
            F.col("n_em") > 0,
            F.col("n_em")
            * (F.col("alt_cost_bits") - F.col("neg_log2p_bits_em")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("loss_bits"),
    )
    w = Window.orderBy(F.col("loss_bits").desc(), "piece")
    rankedp = scoredp.withColumn("rnk", F.row_number().over(w)).select(
        "piece",
        "n_em",
        "cost_bits",
        "alt_cost_bits",
        "loss_bits",
        (F.col("rnk") <= UNIGRAM_PRUNE_KEEP).alias("kept"),
    )
    chars = em.filter(F.length("piece") == 1).select(
        "piece",
        "n_em",
        F.when(F.col("n_em") > 0, F.col("neg_log2p_bits_em"))
        .otherwise(F.col("neg_log2p_bits_old"))
        .cast("long")
        .alias("cost_bits"),
        F.lit(-1).cast("long").alias("alt_cost_bits"),
        F.lit(0).cast("long").alias("loss_bits"),
        F.lit(True).alias("kept"),
    )
    out = rankedp.unionByName(chars).localCheckpoint()
    return out


# ---------------------------------------------------------------------------
# Tokenizer: unigram-LM ENCODE with the pruned vocabulary (serving step)
# ---------------------------------------------------------------------------


@query(
    "q_tokenizer_unigram_encode",
    oracle=_UNIGRAM_PRUNE_CTES
    + f""",
    km AS (
        -- greatest(…, 0): a kept-but-EM-unused piece reports the -1
        -- sentinel as cost_bits; clamped so the encoder can never
        -- score it cheaper-than-free (ADVICE r12 #1, both engines)
        SELECT MAP(list(piece ORDER BY piece),
                   list(greatest(cost_bits, 0) ORDER BY piece)) AS m
        FROM prunetab WHERE kept
    ),
    tk2 AS (
        SELECT source, unnest(str_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    st AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
        FROM tk2 WHERE length(tok) >= 1 GROUP BY source, tok
    ),
    dtoks AS (SELECT DISTINCT tok FROM st),
    dp2 AS (
        SELECT tok, 0 AS i,
               [CAST(0 AS BIGINT)] AS dpv, [CAST(0 AS INT)] AS npv
        FROM dtoks
        UNION ALL
        SELECT tok, i + 1,
               list_append(dpv, list_min(c)),
               list_append(npv,
                   CAST(npv[i + 2 - list_position(c, list_min(c))] + 1
                        AS INT))
        FROM (
            SELECT tok, i, dpv, npv,
                   [CASE WHEN L <= i + 1
                         THEN dpv[i + 2 - L]
                              + coalesce(map_extract(km.m,
                                    substr(tok, CAST(i + 2 - L AS INT),
                                           CAST(L AS INT)))[1],
                                  CAST({UNIGRAM_EM_BIG} AS BIGINT))
                         ELSE CAST({UNIGRAM_EM_BIG} AS BIGINT) END
                    FOR L IN [1, 2, 3, 4]] AS c
            FROM dp2, km
            WHERE i < length(tok)
        ) s2
    ),
    vitn AS (
        SELECT tok, npv[length(tok) + 1] AS npieces
        FROM dp2 WHERE i = length(tok)
    )
    SELECT s.source,
           CAST(SUM(s.n) AS BIGINT) AS n_tokens,
           CAST(SUM(s.n * length(s.tok)) AS BIGINT) AS n_chars,
           CAST(SUM(s.n * v.npieces) AS BIGINT) AS n_pieces,
           CAST(SUM(s.n * v.npieces) * 1000000 // SUM(s.n) AS BIGINT)
               AS fertility_ppm,
           CAST(SUM(s.n * length(s.tok)) * 1000000
                // SUM(s.n * v.npieces) AS BIGINT) AS chars_per_piece_ppm
    FROM st s JOIN vitn v USING (tok)
    GROUP BY s.source
    """,
    tags=("llm", "tokenizer"),
)
def q_tokenizer_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the PRUNED unigram vocabulary — the
    serving step that closes the trainer loop (seed → EM → prune →
    encode, the unigram mirror of q_bpe_encode): every token Viterbi-
    segments against the kept pieces only (single characters always
    kept → always segmentable), and the per-source rollup reports the
    two numbers a tokenizer handoff is judged by — FERTILITY
    (pieces per token, the sequence-length multiplier serving pays;
    the per-language form is q_tokenizer_fertility's metric, here
    produced by the actual trained tokenizer) and chars-per-piece
    (compression). The segmentation DP carries (cost, piece-count)
    pairs so fertility needs no backtrack pass; tie-break is the
    family's deterministic first-minimum (shortest piece).

    100 TB shape: corpus work is ONE (source, token) hash agg
    (map-side combinable, Zipf-bounded output); the DP runs at
    DISTINCT-token grain with the ≤40-row kept vocabulary broadcast
    as a literal map, and the stats join back to the (source, token)
    frame via a broadcast on the distinct-token side — no data-scale
    shuffle beyond the one agg. The kept vocabulary comes from the
    prune key's bounded metadata collect."""
    pruned = q_tokenizer_unigram_prune(spark, sf_dir)
    # max(…, 0) mirrors the oracle's greatest(): a kept-but-EM-unused
    # piece carries the -1 cost sentinel, which must never enter the
    # Viterbi map as a cheaper-than-free score (ADVICE r12 #1).
    kmap = {
        r["piece"]: max(int(r["cost_bits"]), 0)
        for r in pruned.filter("kept").collect()
    }
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select(
            "source", F.explode(tokens("text")).alias("tok")
        )
        .where(F.length("tok") >= 1)
        .groupBy("source", "tok")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    dtoks = st.select("tok").distinct()
    cost_map = F.create_map(
        *[x for p in sorted(kmap) for x in (F.lit(p), F.lit(kmap[p]))]
    )
    big = F.lit(UNIGRAM_EM_BIG)
    lens4 = F.array(*[F.lit(L) for L in (1, 2, 3, 4)])

    def dp_step(acc, i):
        cands = F.transform(
            lens4,
            lambda L: F.when(
                L <= i,
                F.element_at(acc["dp"], i - L + 1)
                + F.coalesce(
                    F.element_at(cost_map, F.col("tok").substr(i - L + 1, L)),
                    big,
                ),
            ).otherwise(big),
        )
        best = F.array_min(cands)
        bl = F.array_position(cands, best).cast("int")
        return F.struct(
            F.concat(acc["dp"], F.array(best)).alias("dp"),
            F.concat(
                acc["np"],
                F.array(
                    (F.element_at(acc["np"], i - bl + 1) + 1).cast("int")
                ),
            ).alias("np"),
        )

    dp_init = F.struct(
        F.array(F.lit(0).cast("long")).alias("dp"),
        F.array(F.lit(0).cast("int")).alias("np"),
    )
    vitn = dtoks.select(
        "tok",
        F.element_at(
            F.aggregate(
                F.sequence(F.lit(1), F.length("tok")), dp_init, dp_step
            )["np"],
            F.length("tok") + 1,
        ).alias("npieces"),
    )
    return (
        st.join(F.broadcast(vitn), "tok")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.expr("n * length(tok)")).alias("n_chars"),
            F.sum(F.expr("n * npieces")).alias("n_pieces"),
        )
        .select(
            "source",
            "n_tokens",
            "n_chars",
            "n_pieces",
            F.expr("n_pieces * 1000000 div n_tokens").alias(
                "fertility_ppm"
            ),
            F.expr("n_chars * 1000000 div n_pieces").alias(
                "chars_per_piece_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Graph-ANN tombstone delete (completes the graph index lifecycle:
# build -> add -> delete, parity with the IVF add/delete/compact family)
# ---------------------------------------------------------------------------


def _graph_delete_oracle() -> str:
    """DuckDB replay of tombstoned graph serving: the full build +
    beam serve, with deleted vectors kept as ROUTING WAYPOINTS (they
    are scored and traversed — removing them would sever the paths
    they anchor, the standard HNSW mark-delete trade) but excluded
    from the answer; plus the dead-edge audit that schedules the
    eventual prune rebuild."""
    serve, last = _graph_serve_ctes()
    ctes = _graph_build_ctes() + serve
    ctes.append(
        f"""tomb AS MATERIALIZED (
        SELECT vec_id FROM embeddings
        WHERE (vec_id % {DEL_MOD} = 3 OR label = {DEL_LABEL})
          AND vec_id <> 0
    )"""
    )
    ctes.append(
        """edaudit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CASE WHEN ts.vec_id IS NOT NULL
                              OR td.vec_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_edges_dead
        FROM edges e2
        LEFT JOIN tomb ts ON ts.vec_id = e2.src
        LEFT JOIN tomb td ON td.vec_id = e2.dst
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT p.vec_id, p.c AS cos_sim,
           (SELECT CAST(count(*) AS BIGINT) FROM {last}) AS n_scored,
           (SELECT CAST(count(*) AS BIGINT) FROM {last} v
            JOIN tomb t ON t.vec_id = v.vec_id) AS n_dead_visited,
           (SELECT CAST(count(*) AS BIGINT) FROM tomb) AS n_tombstones,
           (SELECT n_edges_dead FROM edaudit) AS n_edges_dead,
           (SELECT CAST(CASE WHEN n_edges_dead * 5 > n_edges
                             THEN 1 ELSE 0 END AS BIGINT)
            FROM edaudit) AS prune_pending
    FROM {last} p
    WHERE p.vec_id NOT IN (SELECT vec_id FROM tomb)
    ORDER BY p.c DESC, p.vec_id LIMIT {TOPK}"""
    )


@query(
    "q_sim_graph_ann_delete",
    oracle=_graph_delete_oracle(),
    tags=("llm", "similarity", "index", "maintenance"),
)
def q_sim_graph_ann_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOMBSTONE DELETE from the graph-ANN index — the third leg of
    the graph lifecycle (build → add → delete), completing parity
    with the IVF family (``q_sim_ivf_delete``), on the SAME skewed
    delete fixture (vec_id % {DEL_MOD} == 3 plus all of label
    {DEL_LABEL}). Deletion is O(1) metadata: the tombstone set is
    written beside the index; the edge table is NOT rewritten.
    Serving keeps tombstoned vectors as ROUTING WAYPOINTS — they are
    scored and traversed exactly as before (cutting them out would
    sever the paths they anchor and silently collapse recall — the
    standard HNSW mark-delete trade) but are filtered from the
    answer. Proof columns: n_scored (pool size, unchanged by
    deletion), n_dead_visited (tombstones the walk actually passed
    through — non-zero on this fixture, pinned in tests, proving the
    waypoint semantics are load-bearing), n_tombstones, and the
    dead-edge audit (n_edges_dead, prune_pending when >20% of edges
    touch a tombstone — the integer n·5 > total trigger shared with
    the IVF rewrite audit) that schedules the eventual prune rebuild.
    Laws in tests/test_ann_recall.py: no tombstone in the answer;
    pool ≡ the undeleted serve's pool (deletion changes results, not
    traversal).

    100 TB shape: delete is a metadata append (tombstone ids),
    serve cost unchanged (same beam, same O(hubs + R·B·deg) scores,
    plus one broadcast anti-join of the ≤k-row answer against the
    tombstone set — at scale a bloom-filter side input); the audit
    is one pass over the degree-bounded edge table at
    (K1+K2+2·K3)·2·N rows, linear, run at maintenance cadence not
    per query."""
    edges = graph_ann_build(spark, sf_dir)
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id", "embedding", norm("embedding").alias("nrm"), "label"
        )
    )
    tomb = (
        e.filter(
            (F.col("vec_id") % DEL_MOD == 3)
            | (F.col("label") == DEL_LABEL)
        )
        .select("vec_id")
        .localCheckpoint()
    )
    ev = e.drop("label")
    pool = _graph_beam_serve(spark, sf_dir, edges, ev, ev)
    n_scored = pool.agg(F.count("*").alias("n_scored"))
    n_dead = pool.join(F.broadcast(tomb), "vec_id").agg(
        F.count("*").alias("n_dead_visited")
    )
    n_tomb = tomb.agg(F.count("*").alias("n_tombstones"))
    audit = (
        edges.join(
            F.broadcast(tomb.select(F.col("vec_id").alias("src"))),
            "src",
            "left_semi",
        )
        .select("src", "dst")
        .unionByName(
            edges.join(
                F.broadcast(tomb.select(F.col("vec_id").alias("dst"))),
                "dst",
                "left_semi",
            ).select("src", "dst")
        )
        .distinct()
        .agg(F.count("*").alias("n_edges_dead"))
        .crossJoin(F.broadcast(edges.agg(F.count("*").alias("n_edges"))))
        .select(
            "n_edges_dead",
            F.expr(
                "CAST(CASE WHEN n_edges_dead * 5 > n_edges"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("prune_pending"),
        )
    )
    return (
        pool.join(F.broadcast(tomb), "vec_id", "left_anti")
        .orderBy(F.desc("c"), "vec_id")
        .limit(TOPK)
        .select("vec_id", F.col("c").alias("cos_sim"))
        .crossJoin(F.broadcast(n_scored))
        .crossJoin(F.broadcast(n_dead))
        .crossJoin(F.broadcast(n_tomb))
        .crossJoin(F.broadcast(audit))
    )


# ---------------------------------------------------------------------------
# Graph-ANN prune compaction (acts on q_sim_graph_ann_delete's
# prune_pending trigger: drop tombstones, repair only the wounded)
# ---------------------------------------------------------------------------

def _graph_compact_oracle() -> str:
    """DuckDB replay of the graph prune rebuild: tombstoned endpoints
    drop from the edge table; survivors that LOST an edge (wounded)
    re-run the base-layer top-K1 linking restricted to surviving
    cell-mates; everyone else's edges are untouched. Serve then runs
    on the compacted graph with surviving hubs as the entry layer."""
    cos_eq = duck_cosine("a.embedding", "b.embedding")
    serve, last = _graph_serve_ctes(
        edges="edges3", score="ee2", hubs="hubs2"
    )
    ctes = _graph_build_ctes() + [
        f"""tomb AS MATERIALIZED (
        SELECT vec_id FROM embeddings
        WHERE (vec_id % {DEL_MOD} = 3 OR label = {DEL_LABEL})
          AND vec_id <> 0
    )""",
        """kept AS MATERIALIZED (
        SELECT src, dst FROM edges
        WHERE src NOT IN (SELECT vec_id FROM tomb)
          AND dst NOT IN (SELECT vec_id FROM tomb)
    )""",
        """wounded AS MATERIALIZED (
        SELECT DISTINCT src AS vec_id FROM edges
        WHERE src NOT IN (SELECT vec_id FROM tomb)
          AND dst IN (SELECT vec_id FROM tomb)
    )""",
        f"""relink AS (SELECT src, dst FROM (
            SELECT p.va AS src, p.vb AS dst,
                   row_number() OVER (PARTITION BY p.va
                       ORDER BY round({cos_eq}, 6) DESC, p.vb) AS rn
            FROM (SELECT DISTINCT w.vec_id AS va, y.vec_id AS vb
                  FROM wounded w
                  JOIN asg x ON x.vec_id = w.vec_id
                  JOIN asg y ON y.hub = x.hub
                  WHERE y.vec_id <> w.vec_id
                    AND y.vec_id NOT IN (SELECT vec_id FROM tomb)) p
            JOIN e a ON a.vec_id = p.va JOIN e b ON b.vec_id = p.vb
        ) WHERE rn <= {GRAPH_K1})""",
        """edges3 AS MATERIALIZED (
        SELECT src, dst FROM kept
        UNION SELECT src, dst FROM relink
        UNION SELECT dst, src FROM relink)""",
        "ee2 AS MATERIALIZED (SELECT vec_id, embedding FROM e"
        " WHERE vec_id NOT IN (SELECT vec_id FROM tomb))",
        f"hubs2 AS MATERIALIZED (SELECT vec_id, embedding FROM ee2"
        f" WHERE vec_id % {GRAPH_HUB_MOD} = 0)",
    ] + serve
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT p.vec_id, p.c AS cos_sim,
           (SELECT CAST(count(*) AS BIGINT) FROM {last}) AS n_scored,
           (SELECT CAST(count(*) AS BIGINT) FROM edges)
               - (SELECT CAST(count(*) AS BIGINT) FROM kept)
               AS n_edges_dropped,
           (SELECT CAST(count(*) AS BIGINT) FROM wounded) AS n_wounded,
           (SELECT CAST(count(*) AS BIGINT) FROM edges3) AS n_edges_after
    FROM {last} p
    ORDER BY p.c DESC, p.vec_id LIMIT {TOPK}"""
    )


@query(
    "q_sim_graph_ann_compact",
    oracle=_graph_compact_oracle(),
    tags=("llm", "similarity", "index", "maintenance"),
)
def q_sim_graph_ann_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRUNE COMPACTION of the graph-ANN index — the maintenance job
    q_sim_graph_ann_delete's prune_pending trigger schedules,
    completing the lifecycle symmetry with IVF (build → add →
    tombstone → compact): every edge touching a tombstone drops, and
    ONLY the WOUNDED survivors (those that lost at least one
    neighbor) re-run the base-layer top-``GRAPH_K1`` linking among
    their surviving hub-cell mates; the unwounded majority's edges
    are byte-identical before and after — the incremental-repair
    contract that makes compaction affordable (a full rebuild is what
    the trigger exists to avoid). Serving then runs on the compacted
    graph with surviving hubs as the entry layer and tombstones fully
    gone — no waypoint filtering, no residual mask, the post-compact
    mirror of q_sim_ivf_compact's "serving after ≡ serving with
    tombstones" economics. Proof columns: n_edges_dropped, n_wounded,
    n_edges_after. Laws (tests/test_ann_recall.py): zero tombstoned
    endpoints after; unwounded survivors' edge sets untouched; every
    wounded survivor keeps ≥1 edge (its surviving cell-mates include
    a live neighbor on this fixture).

    100 TB shape: the drop is one broadcast (bloom at scale)
    anti-join over the degree-bounded edge table; the repair's pair
    space is |wounded| × cell-mates (the same Σ|cell|² bucketed bound
    as the build, restricted to the wounded slice) — compaction cost
    scales with the DELETED fraction, not the corpus."""
    c = _graph_compact_edges(spark, sf_dir)
    edges, e = c["edges"], c["parts"]["e"]
    tomb, kept, wounded, edges3 = (
        c["tomb"], c["kept"], c["wounded"], c["edges3"]
    )
    ee2 = e.join(F.broadcast(tomb), "vec_id", "left_anti")
    pool = _graph_beam_serve(spark, sf_dir, edges3, ee2, ee2)
    n_scored = pool.agg(F.count("*").alias("n_scored"))
    n_drop = (
        edges.agg(F.count("*").alias("a"))
        .crossJoin(kept.agg(F.count("*").alias("b")))
        .select((F.col("a") - F.col("b")).alias("n_edges_dropped"))
    )
    n_wnd = wounded.agg(F.count("*").alias("n_wounded"))
    n_after = edges3.agg(F.count("*").alias("n_edges_after"))
    return (
        pool.orderBy(F.desc("c"), "vec_id")
        .limit(TOPK)
        .select("vec_id", F.col("c").alias("cos_sim"))
        .crossJoin(F.broadcast(n_scored))
        .crossJoin(F.broadcast(n_drop))
        .crossJoin(F.broadcast(n_wnd))
        .crossJoin(F.broadcast(n_after))
    )


def _graph_compact_edges(spark: SparkSession, sf_dir: str) -> dict:
    """The compaction's edge rebuild (kept ∪ relink ∪ reversed relink),
    split from the key so the unwounded-edges-untouched law test can
    materialize the ACTUAL after-graph it asserts over (ADVICE r13 —
    asserting on the kept/wounded definitions alone was tautological).
    Returns {'parts', 'edges', 'tomb', 'kept', 'wounded', 'edges3'}."""
    parts = _graph_ann_parts(spark, sf_dir)
    edges = parts["edges"]
    e = parts["e"]
    tomb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            f"(vec_id % {DEL_MOD} = 3 OR label = {DEL_LABEL})"
            " AND vec_id <> 0"
        )
        .select("vec_id")
        .localCheckpoint()
    )
    tsrc = tomb.select(F.col("vec_id").alias("src"))
    tdst = tomb.select(F.col("vec_id").alias("dst"))
    kept = (
        edges.join(F.broadcast(tsrc), "src", "left_anti")
        .join(F.broadcast(tdst), "dst", "left_anti")
        .select("src", "dst")
    )
    wounded = (
        edges.join(F.broadcast(tsrc), "src", "left_anti")
        .join(F.broadcast(tdst), "dst", "left_semi")
        .select(F.col("src").alias("vec_id"))
        .distinct()
    )
    asg = parts["scored"].filter(F.col("rn") <= GRAPH_NCELL).select(
        "vec_id", "hub_id"
    )
    cand = (
        wounded.join(asg, "vec_id")
        .join(
            asg.select(
                F.col("vec_id").alias("vb"), F.col("hub_id")
            ),
            "hub_id",
        )
        .filter(F.col("vb") != F.col("vec_id"))
        .join(
            F.broadcast(tomb.select(F.col("vec_id").alias("vb"))),
            "vb",
            "left_anti",
        )
        .select(F.col("vec_id").alias("va"), "vb")
        .distinct()
    )
    pair_cos = F.round(
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    ws = Window.partitionBy("src").orderBy(F.desc("c"), "dst")
    relink = (
        cand.join(e.alias("a"), cand.va == F.col("a.vec_id"))
        .join(e.alias("b"), cand.vb == F.col("b.vec_id"))
        .select(
            F.col("va").alias("src"),
            F.col("vb").alias("dst"),
            pair_cos.alias("c"),
        )
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= GRAPH_K1)
        .select("src", "dst")
    )
    edges3 = (
        kept.unionByName(relink)
        .unionByName(
            relink.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    return {
        "parts": parts,
        "edges": edges,
        "tomb": tomb,
        "kept": kept,
        "wounded": wounded,
        "edges3": edges3,
    }


# ---------------------------------------------------------------------------
# Preference-data bias audit (position + length bias in pairwise labels)
# ---------------------------------------------------------------------------

PREF_CHI2_CRIT_MILLI = 3841  # chi-square 0.95, 1 dof, in milli-units


@query(
    "q_eval_pref_bias_audit",
    oracle=f"""
    WITH seq AS (
        SELECT event_type AS b_t,
               CAST(ROUND(value * 100) AS BIGINT) AS pb,
               len(props) AS lb,
               lag(event_type) OVER w AS a_t,
               lag(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS pa,
               lag(len(props)) OVER w AS la
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    m AS (
        SELECT a_t, b_t,
               CASE WHEN pa > pb THEN 1 ELSE 0 END AS first_win,
               CASE WHEN (pa > pb AND la > lb)
                     OR (pa <= pb AND lb > la) THEN 1 ELSE 0 END
                   AS longer_win
        FROM seq WHERE a_t IS NOT NULL AND a_t <> b_t
    ),
    per AS (
        SELECT a_t AS first_contestant,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               CAST(SUM(first_win) AS BIGINT) AS first_wins,
               CAST(SUM(longer_win) AS BIGINT) AS longer_wins
        FROM m GROUP BY a_t
        UNION ALL
        SELECT 'ALL', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(first_win) AS BIGINT),
               CAST(SUM(longer_win) AS BIGINT)
        FROM m
    )
    SELECT first_contestant, n_matches, first_wins, longer_wins,
           CAST(first_wins * 1000000 // n_matches AS BIGINT)
               AS position_win_ppm,
           CAST(longer_wins * 1000000 // n_matches AS BIGINT)
               AS length_win_ppm,
           CAST(CASE WHEN CAST(2 * first_wins - n_matches AS HUGEINT)
                          * (2 * first_wins - n_matches) * 1000
                          > {PREF_CHI2_CRIT_MILLI} * CAST(n_matches AS HUGEINT)
                THEN 1 ELSE 0 END AS BIGINT) AS position_biased,
           CAST(CASE WHEN CAST(2 * longer_wins - n_matches AS HUGEINT)
                          * (2 * longer_wins - n_matches) * 1000
                          > {PREF_CHI2_CRIT_MILLI} * CAST(n_matches AS HUGEINT)
                THEN 1 ELSE 0 END AS BIGINT) AS length_biased
    FROM per
    """,
    tags=("llm", "eval"),
)
def q_eval_pref_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-DATASET BIAS AUDIT — the hygiene check every RLHF /
    reward-model pipeline runs before training on pairwise labels
    (Chatbot-Arena-style analyses): on the SAME deterministic match
    fixture as q_eval_bradley_terry (consecutive same-user event
    pairs, higher cent-value wins), measure the two classic label
    confounds: POSITION bias — the win rate of the first-shown arm,
    which an unbiased labeling process keeps at ~50% — and LENGTH
    bias — the rate at which the longer response (props length, the
    axis INDEPENDENT of the win rule) wins. Each rate is flagged
    against the exact-integer one-dof chi-square test at 0.95:
    biased iff (2·wins − n)²·1000 > 3841·n — the cross-multiplied
    form shared with q_ab_srm_check, no floats anywhere. Reported
    per first-position contestant plus the 'ALL' rollup; length
    ties count against the longer-wins rate (strict inequality),
    documented and mirrored.

    100 TB shape: ONE user_id window shuffle builds the match
    stream (shared shape with the Bradley–Terry key — at scale the
    two audits run off one materialized match frame); everything
    after is a map-side-combinable agg to |contestants|+1 rows.
    The (2w−n)²·1000 cross-multiply runs in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — the q_ab_srm_check escape hatch — because a
    GENUINELY biased cell wraps int64 once |2w−n| exceeds ~9.6e7
    (int64 only holds near the null, where |2w−n| ~ √n); in decimal
    the flag is exact wherever the row is representable. The binding
    int64 term is now the ppm numerator wins·1e6 — safe to ~9e12
    matches per cell (the q_ab_srm_check output class; capacity
    sweep entry in tests/test_property_capacity.py)."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("b_t"),
        cents.alias("pb"),
        F.length("props").alias("lb"),
        F.lag("event_type").over(wu).alias("a_t"),
        F.lag(cents).over(wu).alias("pa"),
        F.lag(F.length("props")).over(wu).alias("la"),
    ).filter(F.col("a_t").isNotNull() & (F.col("a_t") != F.col("b_t")))
    m = seq.select(
        "a_t",
        F.when(F.col("pa") > F.col("pb"), 1).otherwise(0).alias(
            "first_win"
        ),
        F.when(
            ((F.col("pa") > F.col("pb")) & (F.col("la") > F.col("lb")))
            | ((F.col("pa") <= F.col("pb")) & (F.col("lb") > F.col("la"))),
            1,
        )
        .otherwise(0)
        .alias("longer_win"),
    )
    per = m.groupBy(F.col("a_t").alias("first_contestant")).agg(
        F.count("*").alias("n_matches"),
        F.sum("first_win").alias("first_wins"),
        F.sum("longer_win").alias("longer_wins"),
    )
    allr = m.agg(
        F.count("*").alias("n_matches"),
        F.sum("first_win").alias("first_wins"),
        F.sum("longer_win").alias("longer_wins"),
    ).select(F.lit("ALL").alias("first_contestant"), "*")
    crit = PREF_CHI2_CRIT_MILLI
    return per.unionByName(allr).select(
        "first_contestant",
        "n_matches",
        "first_wins",
        "longer_wins",
        F.expr("first_wins * 1000000 div n_matches").alias(
            "position_win_ppm"
        ),
        F.expr("longer_wins * 1000000 div n_matches").alias(
            "length_win_ppm"
        ),
        F.expr(
            "CAST(CASE WHEN CAST(2 * first_wins - n_matches"
            " AS DECIMAL(38, 0)) * (2 * first_wins - n_matches) * 1000"
            f" > {crit} * CAST(n_matches AS DECIMAL(38, 0))"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("position_biased"),
        F.expr(
            "CAST(CASE WHEN CAST(2 * longer_wins - n_matches"
            " AS DECIMAL(38, 0)) * (2 * longer_wins - n_matches) * 1000"
            f" > {crit} * CAST(n_matches AS DECIMAL(38, 0))"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("length_biased"),
    )


# ---------------------------------------------------------------------------
# Graph-ANN batch serving (multi-query beam search; the graph-route
# counterpart of q_sim_ivf_pq_adc_batch, and the base the streaming
# serve key replays)
# ---------------------------------------------------------------------------


def _graph_beam_serve_batch(
    edges: DataFrame, e: DataFrame, bq: DataFrame
) -> DataFrame:
    """Beam search for a BATCH of queries: the single-query walk of
    ``_graph_beam_serve`` with (qid, vec_id)-keyed pools — entry pool
    = hubs × queries, per-round frontier/pool windows partition by
    qid, candidate scores join the ≤``ADC_BATCH_Q``-row broadcast
    query frame. Returns the visited pool (qid, vec_id, c)."""
    score = F.round(
        dot(F.col("embedding"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")),
        6,
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("c"), "vec_id")
    pool = (
        e.filter(F.col("vec_id") % GRAPH_HUB_MOD == 0)
        .crossJoin(F.broadcast(bq))
        .select("qid", "vec_id", score.alias("c"))
        .localCheckpoint()
    )
    return beam_walk(
        pool,
        edges,
        lambda ids: (
            ids.join(e, "vec_id")
            .join(F.broadcast(bq), "qid")
            .select("qid", "vec_id", score.alias("c"))
        ),
        lambda new: (
            new.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= GRAPH_BEAM)
            .select("qid", "vec_id")
        ),
    )


def _graph_batch_oracle() -> str:
    """DuckDB replay of the multi-query beam: the build CTEs, then
    per-qid-windowed pools/frontiers — bit-for-bit with
    ``_graph_beam_serve_batch`` (6-dp cosine, vec_id tie-breaks)."""
    cos_hq = duck_cosine("h.embedding", "q.qv")
    cos_eq2 = duck_cosine("e.embedding", "q.qv")
    ctes = _graph_build_ctes() + [
        f"""bq AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv
        FROM embeddings WHERE vec_id < {ADC_BATCH_Q})""",
        f"""bpool0 AS MATERIALIZED (SELECT q.qid, h.vec_id,
               round({cos_hq}, 6) AS c
        FROM hubs h CROSS JOIN bq q)""",
        f"""bf0 AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                ORDER BY c DESC, vec_id) AS rn
            FROM bpool0) WHERE rn <= {GRAPH_BEAM})""",
    ]
    for i in range(GRAPH_ROUNDS):
        ctes.append(
            f"""bnew{i} AS MATERIALIZED (
            SELECT cand.qid, e.vec_id, round({cos_eq2}, 6) AS c
            FROM (SELECT DISTINCT f.qid, ed.dst AS vec_id
                  FROM bf{i} f JOIN edges ed ON ed.src = f.vec_id) cand
            JOIN e ON e.vec_id = cand.vec_id
            JOIN bq q ON q.qid = cand.qid
            WHERE NOT EXISTS (SELECT 1 FROM bpool{i} p
                WHERE p.qid = cand.qid AND p.vec_id = cand.vec_id))"""
        )
        ctes.append(
            f"bpool{i + 1} AS MATERIALIZED (SELECT * FROM bpool{i}"
            f" UNION ALL SELECT * FROM bnew{i})"
        )
        ctes.append(
            f"""bf{i + 1} AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                ORDER BY c DESC, vec_id) AS rn
            FROM bnew{i}) WHERE rn <= {GRAPH_BEAM})"""
        )
    last = f"bpool{GRAPH_ROUNDS}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT p.qid, p.vec_id, p.c AS cos_sim, ns.n_scored
    FROM (SELECT qid, vec_id, c, row_number() OVER (PARTITION BY qid
              ORDER BY c DESC, vec_id) AS rn FROM {last}) p
    JOIN (SELECT qid, CAST(count(*) AS BIGINT) AS n_scored
          FROM {last} GROUP BY qid) ns ON ns.qid = p.qid
    WHERE p.rn <= {TOPK}"""
    )


@query(
    "q_sim_graph_ann_batch",
    oracle=_graph_batch_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_graph_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH graph-ANN serving — {ADC_BATCH_Q} query vectors walk the
    navigable graph TOGETHER (the graph-route counterpart of
    q_sim_ivf_pq_adc_batch, closing the serving asymmetry between the
    two index families): one (qid, vec_id)-keyed beam search shares
    the entry scan and every expansion round across the batch, so the
    edge table and the candidate point-gathers are touched once per
    ROUND, not once per query — the amortization that makes offline
    bulk kNN (contamination sweeps, dedup candidate recall audits)
    affordable on the graph index. Per query: the same pool/beam
    semantics as q_sim_graph_ann (6-dp cosine, vec_id tie-breaks,
    n_scored budget column), and because per-query results are
    independent of batching, the streaming serve key
    (q_stream_graph_serve) replays THIS key's oracle verbatim.

    100 TB shape: per round, one ≤Q·BEAM-row broadcast against the
    degree-bounded edge table and one semi-join point-gather of the
    batch's union candidate set — work O(Q·ROUNDS·BEAM·degree) total
    with the constant shared, vs Q independent walks re-reading the
    edge table Q times."""
    edges = graph_ann_build(spark, sf_dir)
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", norm("embedding").alias("nrm"))
    )
    bq = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < ADC_BATCH_Q)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            norm("embedding").alias("qnrm"),
        )
    )
    pool = _graph_beam_serve_batch(edges, e, bq)
    wq = Window.partitionBy("qid").orderBy(F.desc("c"), "vec_id")
    ns = pool.groupBy("qid").agg(F.count("*").alias("n_scored"))
    return (
        pool.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= TOPK)
        .select("qid", "vec_id", F.col("c").alias("cos_sim"))
        .join(F.broadcast(ns), "qid")
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth (the q_text_zipf_fit companion)
# ---------------------------------------------------------------------------


@query(
    "q_text_heaps_law",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    dtok AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks
        FROM toks GROUP BY doc_id
    ),
    firsts AS (
        SELECT MIN(doc_id) AS fdoc FROM toks GROUP BY tok
    ),
    newv AS (
        SELECT fdoc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM firsts GROUP BY fdoc
    ),
    cum AS (
        SELECT d.doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY d.doc_id) AS BIGINT)
                   AS doc_rank,
               CAST(SUM(d.n_toks) OVER (ORDER BY d.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens,
               CAST(SUM(COALESCE(v.n_new, 0)) OVER (ORDER BY d.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS vocab
        FROM dtok d LEFT JOIN newv v ON v.doc_id = d.doc_id
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cum),
    anch AS (
        SELECT q.q AS quartile, c.doc_id, c.cum_tokens, c.vocab
        FROM (SELECT unnest([1, 2, 3, 4]) AS q) q
        JOIN nn ON TRUE
        JOIN cum c ON c.doc_rank = (nn.n * q.q + 3) // 4
    )
    SELECT a.quartile, a.doc_id AS anchor_doc_id, a.cum_tokens,
           a.vocab,
           CAST((a.vocab - COALESCE(p.vocab, 0)) * 1000000
                // GREATEST(COALESCE(p.vocab, 0), 1) AS BIGINT)
               AS vocab_growth_ppm,
           CAST((a.cum_tokens - COALESCE(p.cum_tokens, 0)) * 1000000
                // GREATEST(COALESCE(p.cum_tokens, 0), 1) AS BIGINT)
               AS token_growth_ppm,
           CAST(CASE WHEN p.quartile IS NULL THEN 0
                WHEN a.vocab * p.cum_tokens < p.vocab * a.cum_tokens
                THEN 1 ELSE 0 END AS BIGINT) AS sublinear
    FROM anch a LEFT JOIN anch p ON p.quartile = a.quartile - 1
    """,
    tags=("llm", "text", "quality"),
)
def q_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS-LAW vocabulary-growth audit — the companion to
    q_text_zipf_fit and the standard corpus-health read a tokenizer
    or dedup team checks before training (V(N) ≈ K·N^β, β < 1 for
    natural language; β ≈ 1 means the 'vocabulary' never saturates —
    the signature of ID-like tokens, boilerplate churn, or a corpus
    of near-disjoint shards that dedup should have caught): tokens
    are first-occurrence-marked (min doc_id per token — ONE agg at
    token grain), so cumulative vocabulary V(d) is a running sum of
    per-doc new-token counts, never a per-prefix distinct; anchors at
    the doc-rank quartiles report (cum_tokens, vocab, inter-anchor
    growth ppm) and the SUBLINEARITY flag as the exact integer
    cross-multiply V₂·N₁ < V₁·N₂ ⟺ β < 1 on that segment — no
    logarithms, both engines bit-identical.

    100 TB shape: token grain collapses map-side to (tok → min doc)
    then to per-doc new counts (|docs| rows); the cumulative window
    runs at doc grain. The global doc-order window is the documented
    rollup-grain pattern — range-partitioned cumulative sums take
    over when |docs| outgrows one task's sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    dtok = toks.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    newv = (
        toks.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_new"))
    )
    wd = Window.orderBy("doc_id")
    wcum = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (
        dtok.join(newv, "doc_id", "left")
        .select(
            "doc_id",
            F.row_number().over(wd).cast("long").alias("doc_rank"),
            F.sum("n_toks").over(wcum).alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(wcum)
            .alias("vocab"),
        )
        .localCheckpoint()
    )
    nn = cum.agg(F.max("doc_rank").alias("n"))
    anch = (
        spark.range(1, 5)
        .select(F.col("id").cast("long").alias("quartile"))
        .crossJoin(F.broadcast(nn))
        .join(
            cum,
            F.col("doc_rank")
            == F.expr("(n * quartile + 3) div 4"),
        )
        .select("quartile", "doc_id", "cum_tokens", "vocab")
    )
    p = anch.select(
        (F.col("quartile") + 1).alias("quartile"),
        F.col("doc_id").alias("p_doc"),
        F.col("cum_tokens").alias("p_cum"),
        F.col("vocab").alias("p_vocab"),
    )
    return anch.join(F.broadcast(p), "quartile", "left").select(
        "quartile",
        F.col("doc_id").alias("anchor_doc_id"),
        "cum_tokens",
        "vocab",
        F.expr(
            "(vocab - COALESCE(p_vocab, 0)) * 1000000"
            " div GREATEST(COALESCE(p_vocab, 0), 1)"
        ).alias("vocab_growth_ppm"),
        F.expr(
            "(cum_tokens - COALESCE(p_cum, 0)) * 1000000"
            " div GREATEST(COALESCE(p_cum, 0), 1)"
        ).alias("token_growth_ppm"),
        F.expr(
            "CAST(CASE WHEN p_vocab IS NULL THEN 0"
            " WHEN vocab * p_cum < p_vocab * cum_tokens"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("sublinear"),
    )


# ---------------------------------------------------------------------------
# Attribute-filtered graph-ANN beam search (the graph-route counterpart
# of q_sim_ann_filtered's IVF pre/post decision table)
# ---------------------------------------------------------------------------


def _graph_beam_serve_labeled(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame,
    aware: bool,
) -> DataFrame:
    """Beam search carrying the label column, with optionally
    predicate-AWARE frontier selection: navigation is UNFILTERED
    (non-matching candidates are scored, pooled, and may carry the
    walk — filtering the traversal itself fragments the graph, the
    documented failure mode every vector store warns about), but with
    ``aware`` the per-round frontier ranks MATCHING candidates first
    ((label match) DESC, cosine DESC, vec_id) so beam width
    concentrates on the predicate's region once the walk reaches it.
    ``aware=False`` is bit-identical to ``_graph_beam_serve`` plus a
    label column. Returns the visited pool (vec_id, label, c)."""
    el = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id", "label", "embedding", norm("embedding").alias("nrm")
        )
    )
    qv, score = _query_cosine(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0)
    )
    match = (F.col("label") == ANN_FILTER_LABEL).cast("int")
    if aware:
        front_order = [F.desc("m"), F.desc("c"), F.col("vec_id")]
    else:
        front_order = [F.desc("c"), F.col("vec_id")]
    pool = (
        el.filter(F.col("vec_id") % GRAPH_HUB_MOD == 0)
        .crossJoin(qv)
        .select("vec_id", "label", score.alias("c"))
        .localCheckpoint()
    )
    return beam_walk(
        pool,
        edges,
        lambda ids: (
            ids.join(el, "vec_id")
            .crossJoin(qv)
            .select("vec_id", "label", score.alias("c"))
        ),
        lambda new: (
            new.withColumn("m", match)
            .orderBy(*front_order)
            .limit(GRAPH_BEAM)
            .select("vec_id")
        ),
    )


def _graph_serve_labeled_ctes(prefix: str, aware: bool) -> tuple:
    """DuckDB mirror of ``_graph_beam_serve_labeled``: the unrolled
    beam chain with label-carrying pools and the aware/plain frontier
    ORDER BY. Returns (ctes, final_pool_name)."""
    cos_q = duck_cosine("el.embedding", "q.qv")
    m = f"(CASE WHEN label = {ANN_FILTER_LABEL} THEN 1 ELSE 0 END)"
    order = (
        f"{m} DESC, c DESC, vec_id" if aware else "c DESC, vec_id"
    )
    p = prefix
    ctes = [
        f"""{p}pool0 AS MATERIALIZED (SELECT el.vec_id, el.label,
               round({duck_cosine('el.embedding', 'q.qv')}, 6) AS c
        FROM el CROSS JOIN q
        WHERE el.vec_id % {GRAPH_HUB_MOD} = 0)""",
        f"{p}f0 AS (SELECT vec_id FROM {p}pool0"
        f" ORDER BY {order} LIMIT {GRAPH_BEAM})",
    ]
    for i in range(GRAPH_ROUNDS):
        ctes.append(
            f"""{p}new{i} AS MATERIALIZED (
            SELECT el.vec_id, el.label, round({cos_q}, 6) AS c
            FROM (SELECT DISTINCT ed.dst AS vec_id
                  FROM {p}f{i} f JOIN edges ed ON ed.src = f.vec_id) cand
            JOIN el USING (vec_id) CROSS JOIN q
            WHERE cand.vec_id NOT IN (SELECT vec_id FROM {p}pool{i}))"""
        )
        ctes.append(
            f"{p}pool{i + 1} AS MATERIALIZED (SELECT * FROM {p}pool{i}"
            f" UNION ALL SELECT * FROM {p}new{i})"
        )
        ctes.append(
            f"{p}f{i + 1} AS (SELECT vec_id FROM {p}new{i}"
            f" ORDER BY {order} LIMIT {GRAPH_BEAM})"
        )
    return ctes, f"{p}pool{GRAPH_ROUNDS}"


def _graph_filtered_oracle() -> str:
    plain, plast = _graph_serve_labeled_ctes("pl", aware=False)
    aw, alast = _graph_serve_labeled_ctes("aw", aware=True)
    cos = duck_cosine("e.embedding", "q.qv")
    ctes = _graph_build_ctes() + [
        "el AS MATERIALIZED (SELECT vec_id, label, embedding"
        " FROM embeddings WHERE vec_id <> 0)",
        "q AS MATERIALIZED (SELECT embedding AS qv FROM embeddings"
        " WHERE vec_id = 0)",
        f"""truth AS MATERIALIZED (
        SELECT e.vec_id FROM embeddings e CROSS JOIN q
        WHERE e.label = {ANN_FILTER_LABEL} AND e.vec_id <> 0
        ORDER BY round({cos}, 6) DESC, e.vec_id
        LIMIT {TOPK})""",
    ] + plain + aw + [
        f"""post AS (SELECT vec_id FROM (
            SELECT vec_id, label FROM {plast}
            ORDER BY c DESC, vec_id LIMIT {TOPK}
        ) WHERE label = {ANN_FILTER_LABEL})""",
        f"""aware AS (SELECT vec_id FROM {alast}
            WHERE label = {ANN_FILTER_LABEL}
            ORDER BY c DESC, vec_id LIMIT {TOPK})""",
        f"""u AS (
        SELECT 'post_filter' AS strategy,
               CAST((SELECT COUNT(*) FROM post) AS BIGINT) AS n_returned,
               CAST((SELECT COUNT(*) FROM post
                     WHERE vec_id IN (SELECT vec_id FROM truth))
                    AS BIGINT) AS n_hits,
               CAST((SELECT COUNT(*) FROM {plast}) AS BIGINT) AS n_scored
        UNION ALL
        SELECT 'aware_beam',
               CAST((SELECT COUNT(*) FROM aware) AS BIGINT),
               CAST((SELECT COUNT(*) FROM aware
                     WHERE vec_id IN (SELECT vec_id FROM truth))
                    AS BIGINT),
               CAST((SELECT COUNT(*) FROM {alast}) AS BIGINT))""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT strategy, n_returned, n_hits,
           CAST(100 * n_hits // {TOPK} AS BIGINT) AS recall_pct,
           n_scored
    FROM u ORDER BY strategy
    """
    )


@query(
    "q_sim_graph_ann_filtered",
    oracle=_graph_filtered_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_graph_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-FILTERED graph-ANN search — the graph-route
    counterpart of q_sim_ann_filtered's IVF decision table (label =
    {ANN_FILTER_LABEL} constraint, 1/10 selective): the SAME navigable
    graph and ROUNDS×BEAM budget answered two ways. POST-filter (what
    a filter-unaware index does): run the plain beam, take the
    unfiltered top-k, drop non-matching — returns ~k/10 results.
    AWARE beam (predicate-aware expansion): navigation stays
    UNFILTERED — non-matching candidates are scored, pooled, and may
    carry the walk, because restricting traversal itself fragments
    the graph (the failure mode every vector store's filtered-search
    doc warns about) — but each round's frontier ranks matching
    candidates FIRST ((label match) DESC, cosine DESC), so beam width
    concentrates on the predicate's region once reached, and the
    result is the top-k of the MATCHING pool. Scored against the
    exact filtered top-k; the recall-dominance law (aware ≥ post at
    the same budget) is pinned in tests/test_ann_recall.py.

    100 TB shape: identical to q_sim_graph_ann — entry scan over the
    hub layer, ROUNDS broadcast-frontier expansions against the
    degree-bounded edge table — plus one label column carried through
    the point-gathers (a pushed-down dictionary column on the
    vec_id-bucketed store). The aware frontier is the same
    top-BEAM window with a 2-key sort; per-query work is unchanged:
    O(hubs + ROUNDS·BEAM·degree) scores, filter selectivity paid in
    RESULT quality, not extra I/O."""
    edges = graph_ann_build(spark, sf_dir)
    truth = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            (F.col("label") == ANN_FILTER_LABEL) & (F.col("vec_id") != 0)
        )
        .crossJoin(
            F.broadcast(
                load_table(spark, sf_dir, "embeddings")
                .filter(F.col("vec_id") == 0)
                .select(
                    F.col("embedding").alias("qv"),
                    norm("embedding").alias("qnrm"),
                )
            )
        )
        .select(
            "vec_id",
            F.round(
                dot(F.col("embedding"), F.col("qv"))
                / (norm("embedding") * F.col("qnrm")),
                6,
            ).alias("c"),
        )
        .orderBy(F.desc("c"), "vec_id")
        .limit(TOPK)
        .select("vec_id")
        .localCheckpoint()
    )
    # the plain (filter-unaware) pool is the session-shared default
    # walk — bit-identical to aware=False (same frontier order, label
    # joined after the fact) and free when q_sim_graph_ann already ran
    plain_pool = _plain_beam_pool(spark, sf_dir).join(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "label"),
        "vec_id",
    )
    aware_pool = _graph_beam_serve_labeled(spark, sf_dir, edges, aware=True)
    post = (
        plain_pool.orderBy(F.desc("c"), "vec_id")
        .limit(TOPK)
        .filter(F.col("label") == ANN_FILTER_LABEL)
        .select("vec_id")
    )
    aware = (
        aware_pool.filter(F.col("label") == ANN_FILTER_LABEL)
        .orderBy(F.desc("c"), "vec_id")
        .limit(TOPK)
        .select("vec_id")
    )

    def score_arm(
        name: str, picks: DataFrame, pool: DataFrame
    ) -> DataFrame:
        n_ret = picks.agg(F.count("*").alias("n_returned"))
        n_hit = picks.join(truth, "vec_id", "left_semi").agg(
            F.count("*").alias("n_hits")
        )
        n_sc = pool.agg(F.count("*").alias("n_scored"))
        return (
            F.broadcast(n_ret)
            .crossJoin(F.broadcast(n_hit))
            .crossJoin(F.broadcast(n_sc))
            .select(
                F.lit(name).alias("strategy"),
                "n_returned",
                "n_hits",
                F.expr(f"CAST(100 * n_hits div {TOPK} AS LONG)").alias(
                    "recall_pct"
                ),
                "n_scored",
            )
        )

    return (
        score_arm("post_filter", post, plain_pool)
        .unionByName(score_arm("aware_beam", aware, aware_pool))
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# PQ/ADC-compressed graph serving (the HNSW+PQ byte-budget design: beam
# expansion scores codes, exact rerank touches floats for the final pool)
# ---------------------------------------------------------------------------


def _graph_adc_oracle() -> str:
    """DuckDB replay of both serving arms over the same graph: the
    float beam (``_graph_serve_ctes`` chain) and the ADC beam — every
    expansion round scores candidates by int64 LUT lookups over their
    PQ codes (``_pq_ctes(ADC_M, ADC_K)``), the final pool's top
    ``ADC_RERANK_POOL`` reranked by exact cosine. Byte accounting is
    integer arithmetic over pool counts."""
    cos = duck_cosine("e2.embedding", "q.qv")
    serve, flast = _graph_serve_ctes()
    pq = _pq_ctes(ADC_M, ADC_K)
    ctes = _graph_build_ctes() + pq + serve + [
        """qc AS (
        SELECT subspace, pos, sv AS qsv FROM comp WHERE vec_id = 0
    )""",
        f"""lut AS MATERIALIZED (
        SELECT c.subspace, c.code,
               SUM((q.qsv - c.icv) * (q.qsv - c.icv)) AS l
        FROM cent{PQ_ITERS - 1} c
        JOIN qc q ON q.subspace = c.subspace AND q.pos = c.pos
        GROUP BY c.subspace, c.code
    )""",
        f"""apool0 AS MATERIALIZED (
        SELECT pc.vec_id, CAST(SUM(l.l) AS BIGINT) AS d
        FROM asg{PQ_ITERS} pc
        JOIN lut l ON l.subspace = pc.subspace AND l.code = pc.code
        WHERE pc.vec_id IN (SELECT vec_id FROM hubs)
        GROUP BY pc.vec_id
    )""",
        f"af0 AS (SELECT vec_id FROM apool0"
        f" ORDER BY d, vec_id LIMIT {GRAPH_BEAM})",
    ]
    for i in range(GRAPH_ROUNDS):
        ctes.append(
            f"""anew{i} AS MATERIALIZED (
            SELECT pc.vec_id, CAST(SUM(l.l) AS BIGINT) AS d
            FROM (SELECT DISTINCT ed.dst AS vec_id
                  FROM af{i} f JOIN edges ed ON ed.src = f.vec_id) c
            JOIN asg{PQ_ITERS} pc ON pc.vec_id = c.vec_id
            JOIN lut l ON l.subspace = pc.subspace AND l.code = pc.code
            WHERE c.vec_id NOT IN (SELECT vec_id FROM apool{i})
            GROUP BY pc.vec_id)"""
        )
        ctes.append(
            f"apool{i + 1} AS MATERIALIZED (SELECT * FROM apool{i}"
            f" UNION ALL SELECT * FROM anew{i})"
        )
        ctes.append(
            f"af{i + 1} AS (SELECT vec_id FROM anew{i}"
            f" ORDER BY d, vec_id LIMIT {GRAPH_BEAM})"
        )
    alast = f"apool{GRAPH_ROUNDS}"
    ctes += [
        f"""ashort AS (SELECT vec_id FROM {alast}
            ORDER BY d, vec_id LIMIT {ADC_RERANK_POOL})""",
        f"""aserve AS (SELECT vec_id FROM (
            SELECT e2.vec_id FROM embeddings e2
            JOIN ashort s ON s.vec_id = e2.vec_id CROSS JOIN q
            ORDER BY round({cos}, 6) DESC, e2.vec_id LIMIT {TOPK}))""",
        f"""fserve AS (SELECT vec_id FROM {flast}
            ORDER BY c DESC, vec_id LIMIT {TOPK})""",
        f"""truth AS MATERIALIZED (SELECT vec_id FROM (
            SELECT e2.vec_id FROM embeddings e2 CROSS JOIN q
            WHERE e2.vec_id <> 0
            ORDER BY round({cos}, 6) DESC, e2.vec_id LIMIT {TOPK}))""",
        "dim AS (SELECT len(embedding) AS dlen FROM embeddings"
        " WHERE vec_id = 0)",
        f"""u AS (
        SELECT 'adc_beam' AS strategy,
               (SELECT COUNT(*) FROM {alast}) AS n_scored,
               (SELECT COUNT(*) FROM {alast}) * {ADC_M}
                 + LEAST((SELECT COUNT(*) FROM {alast}),
                         {ADC_RERANK_POOL})
                   * (SELECT dlen FROM dim) * 4 AS bytes_moved,
               (SELECT COUNT(*) FROM aserve
                WHERE vec_id IN (SELECT vec_id FROM truth)) AS n_hits
        UNION ALL
        SELECT 'float_beam',
               (SELECT COUNT(*) FROM {flast}),
               (SELECT COUNT(*) FROM {flast})
                   * (SELECT dlen FROM dim) * 4,
               (SELECT COUNT(*) FROM fserve
                WHERE vec_id IN (SELECT vec_id FROM truth)))""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT strategy, CAST(n_scored AS BIGINT) AS n_scored,
           CAST(bytes_moved AS BIGINT) AS bytes_moved,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(100 * n_hits // {TOPK} AS BIGINT) AS recall_pct
    FROM u ORDER BY strategy
    """
    )


@query(
    "q_sim_graph_ann_adc",
    oracle=_graph_adc_oracle(),
    tags=("llm", "similarity"),
)
def q_sim_graph_ann_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC-COMPRESSED graph serving — the HNSW+PQ memory/IO design
    every billion-scale vector store ships (compressed vectors ride
    the graph; floats are touched once, at the end): beam expansion
    over the SAME navigable graph as q_sim_graph_ann, but every
    candidate is scored by ASYMMETRIC DISTANCE — ADC_M int64 LUT
    lookups over its PQ codes (q_sim_ivf_pq_adc's codebooks at
    serving grade, M=32 × K=16) instead of a d-float cosine — and
    only the final pool's top-ADC_RERANK_POOL candidates load their
    true vectors for the exact rerank that produces the answer. The
    two-row decision table (the q_embed_opq_rotate shape) prices both
    arms at the same ROUNDS×BEAM budget: bytes_moved = pool·M for the
    ADC walk + RERANK·d·4 for the rerank, vs pool·d·4 for the float
    beam — ~5× fewer bytes here (d=64; 32× on production d=1024+
    vectors), with recall@k measured against the exact top-k. Recall
    floor + byte-dominance laws pinned in tests/test_ann_recall.py.

    100 TB shape: the candidate point-gathers move M bytes/vector
    instead of d·4 (the edge table and walk are unchanged — entry
    scan over hubs, ROUNDS broadcast-frontier expansions); the LUT is
    M·K rows broadcast once per query; the rerank is a
    RERANK-row primary-key fetch of true vectors — the ONLY float
    I/O. Distances are exact int64 (milli-quantized), so DuckDB
    replays every walk decision bit-for-bit."""
    edges = graph_ann_build(spark, sf_dir)
    comp, cent, codes = pq_train(spark, sf_dir, ADC_M, ADC_K)
    e0 = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") == 0
    )
    qcomp = (
        e0.select(
            F.size("embedding").alias("dlen"),
            F.posexplode("embedding").alias("pos", "v"),
        )
        .select(
            F.expr(f"CAST((pos * {ADC_M}) DIV dlen AS INT)").alias(
                "subspace"
            ),
            "pos",
            F.floor(F.col("v").cast("double") * 1000)
            .cast("long")
            .alias("qsv"),
        )
    )
    dq = F.col("qsv") - F.col("icv")
    lut = (
        cent.join(F.broadcast(qcomp), ["subspace", "pos"])
        .groupBy("subspace", "code")
        .agg(F.sum(dq * dq).alias("l"))
        .localCheckpoint()
    )
    codes_sc = codes.select("vec_id", "subspace", "code")

    def adc_score(ids: DataFrame) -> DataFrame:
        return (
            ids.join(codes_sc, "vec_id")
            .join(F.broadcast(lut), ["subspace", "code"])
            .groupBy("vec_id")
            .agg(F.sum("l").alias("d"))
        )

    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", norm("embedding").alias("nrm"))
    )
    apool = beam_walk(
        adc_score(
            e.filter(F.col("vec_id") % GRAPH_HUB_MOD == 0).select("vec_id")
        ).localCheckpoint(),
        edges,
        adc_score,
        lambda new: new.orderBy("d", "vec_id").limit(GRAPH_BEAM).select("vec_id"),
    )
    short = apool.orderBy("d", "vec_id").limit(ADC_RERANK_POOL).select(
        "vec_id"
    )
    qv, score = _query_cosine(e0)
    aserve = (
        e.join(short, "vec_id", "left_semi")
        .crossJoin(qv)
        .select("vec_id", score.alias("c"))
        .orderBy(F.desc("c"), "vec_id")
        .limit(TOPK)
        .select("vec_id")
    )
    fpool = _plain_beam_pool(spark, sf_dir)
    fserve = (
        fpool.orderBy(F.desc("c"), "vec_id").limit(TOPK).select("vec_id")
    )
    truth = (
        e.crossJoin(qv)
        .select("vec_id", score.alias("c"))
        .orderBy(F.desc("c"), "vec_id")
        .limit(TOPK)
        .select("vec_id")
        .localCheckpoint()
    )
    dim = F.broadcast(e0.select(F.size("embedding").alias("dlen")))

    def arm(
        name: str, pool_n: DataFrame, serve: DataFrame, adc: bool
    ) -> DataFrame:
        n_sc = pool_n.agg(F.count("*").alias("n_scored"))
        n_hit = serve.join(truth, "vec_id", "left_semi").agg(
            F.count("*").alias("n_hits")
        )
        if adc:
            bytes_expr = (
                f"n_scored * {ADC_M}"
                f" + LEAST(n_scored, {ADC_RERANK_POOL}) * dlen * 4"
            )
        else:
            bytes_expr = "n_scored * dlen * 4"
        return (
            F.broadcast(n_sc)
            .crossJoin(F.broadcast(n_hit))
            .crossJoin(dim)
            .select(
                F.lit(name).alias("strategy"),
                "n_scored",
                F.expr(f"CAST({bytes_expr} AS LONG)").alias("bytes_moved"),
                "n_hits",
                F.expr(f"CAST(100 * n_hits div {TOPK} AS LONG)").alias(
                    "recall_pct"
                ),
            )
        )

    return (
        arm("adc_beam", apool, aserve, adc=True)
        .unionByName(arm("float_beam", fpool, fserve, adc=False))
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# Graph-index persistence round-trip (the graph-route twin of
# q_sim_index_persist's index-as-data contract)
# ---------------------------------------------------------------------------

GRAPH_PERSIST_BUCKETS = 16  # src-hash buckets of the edge table at rest


@session_cached
def graph_persisted_edges_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per session, sf) the navigable graph's ONE index
    artifact — the symmetrized degree-bounded edge table — to parquet,
    hash-bucketed by src (``pmod(src, GRAPH_PERSIST_BUCKETS)``
    partition dirs): the layout every serving docstring in this family
    assumes, where a beam round's point-gather prunes to the touched
    buckets instead of scanning the table. Layer membership needs no
    artifact — it is the deterministic ``vec_id % mod`` samples."""
    import os

    edges = graph_ann_build(spark, sf_dir)
    root = tracked_mkdtemp(prefix="graph_index_")
    (
        edges.withColumn(
            "bucket", F.pmod("src", F.lit(GRAPH_PERSIST_BUCKETS))
        )
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(os.path.join(root, "edges"))
    )
    return root


@query(
    "q_sim_graph_ann_persist",
    oracle=_graph_ann_oracle(),
    tags=("llm", "similarity", "index"),
)
def q_sim_graph_ann_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-index PERSISTENCE round-trip — the deployment step that
    completes the graph route's lifecycle parity with IVF
    (q_sim_index_persist): the built edge table is WRITTEN to a
    src-bucketed parquet layout, reloaded as an ordinary DataFrame,
    and the SAME beam search serves from the reloaded index. The
    oracle is q_sim_graph_ann's, verbatim: persisted serving must be
    bit-identical to just-built serving, or the at-rest format lost
    edges (the int64 id pairs and the bucket partitioning survive the
    round-trip losslessly). Together with build / add / delete /
    compact / batch / filtered / ADC / streaming-serve / streaming-
    upsert, every lifecycle stage the IVF route ships now exists on
    the graph route.

    100 TB shape: the edge table IS the serving dataset —
    ≤ (K1+K2+2·K3)·2·N rows, hash-bucketed by src so each beam
    round's gather prunes to the ≤BEAM touched buckets (the layout
    this family's serving docstrings assume, materialized here); the
    build runs once, serving reads only this table plus the query
    vector."""
    import os

    root = graph_persisted_edges_dir(spark, sf_dir)
    edges = spark.read.parquet(os.path.join(root, "edges")).select(
        "src", "dst"
    )
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", norm("embedding").alias("nrm"))
    )
    pool = _graph_beam_serve(spark, sf_dir, edges, e, e)
    total = pool.agg(F.count("*").alias("n_scored"))
    return (
        pool.orderBy(F.desc("c"), "vec_id")
        .limit(TOPK)
        .select("vec_id", F.col("c").alias("cos_sim"))
        .crossJoin(F.broadcast(total))
    )
