"""Candidate-volume linearity gates (docs/SCALE.md §15): the dedup
candidate generators must produce O(rows) candidates under INDEPENDENT
corpus growth — the 64× probe caught a 1600:1 amplification the small
SF hid, and these tests pin the linear shape in CI with a cheap 4×
replica of the sf0.01 documents."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ex_aws_firehose_spark.functions.text import shingles, tokens
from ex_aws_firehose_spark.tables import load_table

R = 4
SHIFT = 100_000_000


@pytest.fixture(scope="module")
def replica_dir(spark, sf_dir):
    """4× INDEPENDENT replica staging (the SCALE.md §15 model):

    - documents: every token suffixed per replica → no shared shingles
      and fully re-drawn hash signatures across replicas;
    - embeddings: labels renumbered and components rotated per replica
      → no shared IVF cells or value-derived buckets;
    - events: user ids AND (hour, type) buckets disjoint per replica
      (ts shifted >20 years) → the co-occurrence pair join can never
      emit a cross-replica pair, so the graph grows as R independent
      copies."""
    out = os.path.join(tempfile.mkdtemp(prefix="scale_shape_"), "4x")
    docs = load_table(spark, sf_dir, "documents")
    parts = []
    for i in range(R):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * SHIFT))
        if i > 0:
            d = d.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", rf"$1r{i}")
            ).withColumn("n_chars", F.length("text"))
        parts.append(d)
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    allp.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    embs = load_table(spark, sf_dir, "embeddings")
    parts = []
    for i in range(R):
        e = embs.withColumn("vec_id", F.col("vec_id") + F.lit(i * SHIFT))
        if i > 0:
            e = e.withColumn("label", F.col("label") + F.lit(i * 100_000))
            rot = (i % 63) + 1
            e = e.withColumn(
                "embedding",
                F.concat(
                    F.slice(F.col("embedding"), rot + 1, 64 - rot),
                    F.slice(F.col("embedding"), 1, rot),
                ),
            )
        parts.append(e)
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    allp.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    evts = load_table(spark, sf_dir, "events")
    parts = []
    for i in range(R):
        v = (
            evts.withColumn("user_id", F.col("user_id") + F.lit(i * SHIFT))
            .withColumn("event_id", F.col("event_id") + F.lit(i * SHIFT))
            .withColumn(
                "ts", F.col("ts") + F.expr(f"INTERVAL {i * 200000} HOURS")
            )
        )
        parts.append(v)
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    allp.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    return out


def _minhash_candidates(spark, sf_dir) -> int:
    from ex_aws_firehose_spark.operators.llm import minhash_bands

    bands = minhash_bands(load_table(spark, sf_dir, "documents"))
    a, b = bands.alias("a"), bands.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bsig") == F.col("b.bsig"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()


def _prefix_candidates(spark, sf_dir) -> int:
    d = load_table(spark, sf_dir, "documents")
    dtok = d.filter(F.size(tokens("text")) >= 3).select(
        "doc_id", shingles(tokens("text")).alias("toks")
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
    a, b = prefix.alias("a"), prefix.alias("b")
    pos_ub = F.lit(1) + F.least(
        F.col("a.nd") - F.col("a.pos"), F.col("b.nd") - F.col("b.pos")
    )
    return (
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
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )


def test_minhash_candidates_scale_linearly(spark, sf_dir, replica_dir):
    c1 = _minhash_candidates(spark, sf_dir)
    c4 = _minhash_candidates(spark, replica_dir)
    assert c1 > 0
    # independent replicas: exactly R× within-replica candidates, plus
    # nothing cross-replica; allow 25% slack for hash coincidences
    assert c4 <= R * c1 * 1.25, (c1, c4)


def test_prefix_filter_candidates_scale_linearly(spark, sf_dir, replica_dir):
    c1 = _prefix_candidates(spark, sf_dir)
    c4 = _prefix_candidates(spark, replica_dir)
    assert c1 > 0
    assert c4 <= R * c1 * 1.25, (c1, c4)


def _replica_of(col):
    """Which replica a shifted id belongs to."""
    return (F.col(col) / SHIFT).cast("long")


def _simhash64_candidates(spark, sf_dir, same_replica_only=False) -> int:
    from ex_aws_firehose_spark.operators.llm import (
        SIMHASH64_BITS,
        SIMHASH64_PREFIX_SHIFT,
        _simhash_sig,
    )

    sig = _simhash_sig(spark, sf_dir, SIMHASH64_BITS)
    a, b = sig.alias("a"), sig.alias("b")
    cond = (
        F.expr(f"shiftright(a.simhash, {SIMHASH64_PREFIX_SHIFT})")
        == F.expr(f"shiftright(b.simhash, {SIMHASH64_PREFIX_SHIFT})")
    ) & (F.col("a.doc_id") < F.col("b.doc_id"))
    if same_replica_only:
        cond = cond & (
            (F.col("a.doc_id") / SHIFT).cast("long")
            == (F.col("b.doc_id") / SHIFT).cast("long")
        )
    return a.join(b, cond).count()


def _multiprobe_candidates(spark, sf_dir, same_replica_only=False) -> int:
    from ex_aws_firehose_spark.functions.vector import dot
    from ex_aws_firehose_spark.operators.llm import MP_PLANES, _rp_plane

    e = load_table(spark, sf_dir, "embeddings")
    bucket = None
    for j in range(MP_PLANES):
        plane = F.array(*[F.lit(v) for v in _rp_plane(j)])
        bit = F.when(dot(F.col("embedding"), plane) >= 0, 1 << j).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    sig = e.select("vec_id", bucket.cast("long").alias("bucket"))
    probes = sig.select(
        F.col("vec_id").alias("a_id"),
        F.explode(
            F.array(
                *[
                    F.col("bucket").bitwiseXOR(F.lit(f).cast("long"))
                    for f in [0] + [1 << j for j in range(MP_PLANES)]
                ]
            )
        ).alias("probe"),
    )
    cond = (F.col("probe") == F.col("bucket")) & (
        F.col("a_id") < F.col("vec_id")
    )
    if same_replica_only:
        cond = cond & (
            (F.col("a_id") / SHIFT).cast("long")
            == (F.col("vec_id") / SHIFT).cast("long")
        )
    return probes.join(sig, cond).count()


def test_simhash64_candidate_capacity_law(spark, sf_dir, replica_dir):
    """The wide-SimHash capacity law, split into its two components
    (measured at 4×: within = [502, ~850, ~850, ~850] per replica,
    cross = 21 ≈ the uniform birthday estimate):

    - WITHIN each replica, token re-hashing is a fresh signature draw
      over the same corpus structure, so per-replica candidates are a
      random variable around base volume — bounded by a draw-variance
      factor, never by corpus growth;
    - CROSS-replica candidates must sit at the UNIFORM birthday floor
      (pairs / 2^16 buckets) — this is the 2⁶³-signature-space
      decorrelation doing its job, and exactly what the saturating
      32-bit form fails (its 12-bit prefix of a concentrated 32-bit
      space keeps colliding as n grows). A leak here means the wide
      signature stopped decorrelating — the capacity defect."""
    from ex_aws_firehose_spark.operators.llm import (
        SIMHASH64_BITS,
        SIMHASH64_PREFIX_SHIFT,
        _simhash_sig,
    )

    c1 = _simhash64_candidates(spark, sf_dir)
    assert c1 > 0
    sig = _simhash_sig(spark, replica_dir, SIMHASH64_BITS)
    a, b = sig.alias("a"), sig.alias("b")
    pairs = a.join(
        b,
        (
            F.expr(f"shiftright(a.simhash, {SIMHASH64_PREFIX_SHIFT})")
            == F.expr(f"shiftright(b.simhash, {SIMHASH64_PREFIX_SHIFT})")
        )
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        (F.col("a.doc_id") / SHIFT).cast("long").alias("ra"),
        (F.col("b.doc_id") / SHIFT).cast("long").alias("rb"),
    )
    within = {
        r.ra: r.n
        for r in pairs.filter("ra = rb")
        .groupBy("ra")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    cross = pairs.filter("ra <> rb").count()
    n_docs = sig.count()
    for rep, n in within.items():
        assert n <= c1 * 3, (rep, n, c1)
    uniform_floor = (n_docs * n_docs / 2) / (1 << 16)
    assert cross <= uniform_floor * 3 + 50, (cross, uniform_floor)


def test_multiprobe_within_replica_candidates_scale_linearly(
    spark, sf_dir, replica_dir
):
    """Same split for multiprobe RP-LSH: component rotation re-draws
    each replica's effective planes, so within-replica candidate volume
    is a fresh LSH draw around base volume (1.5× slack, it is a random
    variable, not a fixed point); super-linear WITHIN-replica growth
    would mean the probe join stopped being bucket-bounded."""
    c1 = _multiprobe_candidates(spark, sf_dir)
    c4_within = _multiprobe_candidates(spark, replica_dir, True)
    assert c1 > 0
    assert c4_within <= R * c1 * 1.5, (c1, c4_within)


def test_graph_wedge_volume_scales_linearly(spark, sf_dir, replica_dir):
    """Degree-ordered triangle counting on R disjoint copies of the
    co-occurrence graph must produce exactly R× the edges, wedges, and
    triangles of the base graph (disjoint users + disjoint (hour,type)
    buckets make cross-replica pairs impossible) — wedge volume is THE
    quadratic-blow-up risk in the wedge-join method, and this pins its
    independence law in CI at 4× (measured exactly 4.00× for all
    three counters; 5% robustness slack)."""
    from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    base = REGISTRY["q_graph_triangles"].fn(spark, sf_dir).collect()[0]
    rep = REGISTRY["q_graph_triangles"].fn(spark, replica_dir).collect()[0]
    for col in ("n_edges", "n_wedges", "n_triangles"):
        b, r4 = getattr(base, col), getattr(rep, col)
        assert b > 0, col
        assert r4 <= R * b * 1.05, (col, b, r4)
        assert r4 >= R * b * 0.95, (col, b, r4)


def _span_hits(spark, sf_dir) -> int:
    """Duplicated-position volume — the span family's candidate metric
    (everything downstream of it is per-hit linear)."""
    from ex_aws_firehose_spark.operators.llm import (
        SPAN_K,
        _positioned_shingle_col,
    )
    from ex_aws_firehose_spark.functions.text import hex_hash60

    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.posexplode(_positioned_shingle_col(SPAN_K))).select(
        "doc_id", hex_hash60(F.col("col")).alias("h")
    )
    dup = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    return sh.join(dup, "h", "left_semi").count()


def test_span_dedup_hits_scale_linearly(spark, sf_dir, replica_dir):
    """Cross-doc span dedup: replica-suffixed tokens share no shingles
    across replicas, so the duplicated-position volume must land at
    exactly R× base (tiny slack for 32-bit shingle-hash coincidences,
    ~1 expected at this size)."""
    c1 = _span_hits(spark, sf_dir)
    c4 = _span_hits(spark, replica_dir)
    assert c1 > 0
    assert c4 <= R * c1 * 1.1, (c1, c4)


@pytest.fixture(scope="module")
def part_replica_dir(spark, sf_dir):
    """4× part replication with a FIXED name vocabulary — the ER growth
    model: more records, same value domain (unlike replica_dir's
    independent-growth model). Only p_partkey shifts per replica."""
    out = os.path.join(tempfile.mkdtemp(prefix="scale_shape_er_"), "4x")
    parts_tbl = load_table(spark, sf_dir, "part")
    reps = [
        parts_tbl.withColumn(
            "p_partkey", F.col("p_partkey") + F.lit(i * SHIFT)
        )
        for i in range(R)
    ]
    allp = reps[0]
    for p in reps[1:]:
        allp = allp.unionByName(p)
    allp.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(out, "part.parquet")
    )
    return out


def _er_work(spark, sf_dir):
    """(distinct-name verify pairs, record-grain candidate pairs) for
    the ER blocking key — the engine pays the first, the naive record
    self-join would pay the second."""
    p = load_table(spark, sf_dir, "part").select(
        F.split("p_name", " ").getItem(0).alias("bw"),
        F.substring(F.split("p_name", " ").getItem(1), 1, 1).alias("bi"),
        "p_name",
    )
    names = p.groupBy("bw", "bi", "p_name").agg(F.count("*").alias("cnt"))
    a = names.select("bw", "bi", F.col("p_name").alias("na"))
    b = names.select(
        F.col("bw").alias("bw2"),
        F.col("bi").alias("bi2"),
        F.col("p_name").alias("nb"),
    )
    verify_pairs = a.join(
        b,
        (F.col("bw") == F.col("bw2"))
        & (F.col("bi") == F.col("bi2"))
        & (F.col("na") < F.col("nb")),
    ).count()
    rec_pairs = (
        p.groupBy("bw", "bi")
        .agg(F.count("*").alias("n"))
        .select(F.expr("sum(n * (n - 1) div 2)").alias("s"))
        .collect()[0]["s"]
    )
    return verify_pairs, rec_pairs


def test_er_value_grain_verify_is_growth_invariant(
    spark, sf_dir, part_replica_dir
):
    """q_er_blocking's 100 TB claim, pinned: under 4× record growth
    with a fixed name vocabulary, the distinct-name verify join the
    ENGINE executes does not grow AT ALL (exact equality), while the
    record-grain candidate volume the naive form would pay grows ~16×
    (C(4n,2)/C(n,2) > 15 at these block sizes)."""
    v1, r1 = _er_work(spark, sf_dir)
    v4, r4 = _er_work(spark, part_replica_dir)
    assert v1 > 0 and r1 > 0
    assert v4 == v1, (v1, v4)
    assert r4 >= 15 * r1, (r1, r4)


def _wmh_candidates(spark, dirpath) -> int:
    from ex_aws_firehose_spark.operators.llm import _wmh_bands, _wmh_counts

    bands = _wmh_bands(_wmh_counts(spark, dirpath)).repartition(
        "band", "bsig"
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )


def test_weighted_minhash_candidates_scale_linearly(
    spark, sf_dir, replica_dir
):
    """The weighted (capped-multiset bigram) banding must stay O(rows)
    under independent growth, like the unweighted family — this is the
    gate that would have caught the raw-token degeneracy (a Zipf-head
    min collapses every doc into one bucket → quadratic candidates) had
    the first cut shipped."""
    c1 = _wmh_candidates(spark, sf_dir)
    c4 = _wmh_candidates(spark, replica_dir)
    assert c1 > 0
    assert c4 <= R * c1 * 1.25, (c1, c4)


def test_lttb_output_size_is_scale_invariant(spark, sf_dir, replica_dir):
    """LTTB's contract IS the shape: |series| × buckets rows out no
    matter how many rows come in ("petabytes in, kilobytes out").
    The 4× replica keeps the same event_type series (ts shifted, ids
    offset), so the downsampled output must not grow at all."""
    from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    base = REGISTRY["q_timeseries_lttb"].fn(spark, sf_dir).count()
    grown = REGISTRY["q_timeseries_lttb"].fn(spark, replica_dir).count()
    assert base == grown, (base, grown)


def test_calibration_bins_bounded_at_scale(spark, sf_dir, replica_dir):
    """The calibration table is ≤10 rows at any corpus size — the
    audit must stay free next to the scan."""
    from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    for d in (sf_dir, replica_dir):
        assert REGISTRY["q_eval_calibration_bins"].fn(spark, d).count() <= 10


def test_interval_bin_candidates_scale_linearly(spark, sf_dir, replica_dir):
    """q_join_interval_bin's pruning claim is a scale-shape claim:
    under 4× INDEPENDENT growth (replica time ranges >20 years apart,
    so cross-replica bucket collisions are impossible) the naive cross
    product grows R², but the bucketed candidates — and the true
    matches — grow exactly R."""
    from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    fn = REGISTRY["q_join_interval_bin"].fn
    base = fn(spark, sf_dir).collect()[0]
    big = fn(spark, replica_dir).collect()[0]
    assert big.n_intervals == R * base.n_intervals
    assert big.n_points == R * base.n_points
    assert big.naive_pairs == R * R * base.naive_pairs
    assert big.n_candidate_pairs == R * base.n_candidate_pairs
    assert big.n_matched == R * base.n_matched


def test_graph_ann_ladder_routing_bounded_and_mirrored(spark):
    """The three-layer graph-ANN ladder (round-13): with the layer
    moduli patched down so the 1/``L3`` sample is non-empty at sf0.1
    (7 layer-3 cells > ROUTE=3, so the restriction BINDS), the build
    must (a) route layer-2 scoring through the layer-3 descent with
    per-vector candidate work bounded by ROUTE × max-cell-occupancy —
    NOT the full |l2| codebook — and (b) stay bit-identical to the
    DuckDB oracle regenerated with the same moduli. Together these
    gate the O(N·log N) ladder claim analytically: the only
    full-layer scan is N × |l3|, and every deeper scoring stage is
    candidate-join bounded."""
    import ex_aws_firehose_spark.operators.llm as llm
    from ex_aws_firehose_spark.functions.vector import dot, norm
    from ex_aws_firehose_spark.testing import (
        compare_frames,
        duckdb_connection,
    )

    sf10 = "/root/testdata/sf0.1"
    saved = (llm.GRAPH_L2_MOD, llm.GRAPH_L3_MOD)
    llm.GRAPH_L2_MOD, llm.GRAPH_L3_MOD = 64, 256
    llm._graph_ann_parts.cache_clear()
    try:
        spark_pdf = llm.q_sim_graph_ann(spark, sf10).toPandas()
        con = duckdb_connection(sf10)
        try:
            oracle_pdf = con.execute(llm._graph_ann_oracle()).df()
        finally:
            con.close()
        res = compare_frames("graph_ann_ladder", spark_pdf, oracle_pdf)
        assert res.ok, res.detail

        # Analytic routing-work gate: rebuild the descent's candidate
        # frame and bound it. Cells are few and small by construction.
        e = (
            load_table(spark, sf10, "embeddings")
            .filter(F.col("vec_id") != 0)
            .select("vec_id", "embedding", norm("embedding").alias("nrm"))
        )
        n_vec = e.count()
        l3 = e.filter(F.col("vec_id") % llm.GRAPH_L3_MOD == 0).select(
            F.col("vec_id").alias("l3_id"),
            F.col("embedding").alias("l3vec"),
            F.col("nrm").alias("l3nrm"),
        )
        n_l3 = l3.count()
        assert n_l3 > llm.GRAPH_ROUTE, "fixture must make restriction bind"
        n_l2 = e.filter(F.col("vec_id") % llm.GRAPH_L2_MOD == 0).count()
        l3_cos = F.round(
            dot(F.col("embedding"), F.col("l3vec"))
            / (F.col("nrm") * F.col("l3nrm")),
            6,
        )
        wr3 = Window.partitionBy("vec_id").orderBy(
            F.desc("rc3"), "l3_id"
        )
        r3 = (
            e.crossJoin(F.broadcast(l3))
            .select("vec_id", "l3_id", l3_cos.alias("rc3"))
            .withColumn("rr3", F.row_number().over(wr3))
            .filter(F.col("rr3") <= llm.GRAPH_ROUTE)
            .select("vec_id", "l3_id")
        )
        l2_r3 = r3.filter(
            F.col("vec_id") % llm.GRAPH_L2_MOD == 0
        ).select(F.col("vec_id").alias("l2_id"), "l3_id")
        occ = (
            l2_r3.groupBy("l3_id")
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]
            .m
        )
        cand2 = r3.join(l2_r3, "l3_id").select("vec_id", "l2_id").distinct()
        per_vec = (
            cand2.groupBy("vec_id")
            .count()
            .agg(F.max("count").alias("m"), F.count("*").alias("nv"))
            .collect()[0]
        )
        # (a) every vector got candidates; (b) per-vector layer-2
        # scoring ≤ ROUTE routed cells × densest cell — the fan-out
        # bound; (c) the restricted total is strictly below the full
        # N × |l2| scan the two-layer build would pay.
        assert per_vec.nv == n_vec
        assert per_vec.m <= llm.GRAPH_ROUTE * occ
        assert cand2.count() < n_vec * n_l2
    finally:
        llm.GRAPH_L2_MOD, llm.GRAPH_L3_MOD = saved
        llm._graph_ann_parts.cache_clear()


def test_rp_lsh_scale_branch_binds_and_mirrors(spark):
    """q_sim_rp_lsh's EXISTS-gated plane growth (round-5 capacity
    watch, closed round 14): with RP_SCALE_MOD patched down so the
    gate frame is non-empty at sf0.1, (a) the 12-plane signature must
    stay bit-identical to the DuckDB oracle regenerated from the same
    patched constants (both engines take the scale branch); (b) the
    scale-branch pair set must be a SUBSET of the 8-plane run's —
    bucket equality on 12 bits implies equality on the low 8, so
    extra planes only shrink buckets (capacity without false
    positives); (c) the branch really binds: at least one surviving
    bucket id needs bits 8..11."""
    import ex_aws_firehose_spark.operators.llm as llm
    from ex_aws_firehose_spark.testing import (
        compare_frames,
        duckdb_connection,
    )

    sf10 = "/root/testdata/sf0.1"
    base = {
        (r.vec_a, r.vec_b)
        for r in llm.q_sim_rp_lsh(spark, sf10).collect()
    }
    saved = llm.RP_SCALE_MOD
    llm.RP_SCALE_MOD = 64
    try:
        spark_pdf = llm.q_sim_rp_lsh(spark, sf10).toPandas()
        con = duckdb_connection(sf10)
        try:
            oracle_pdf = con.execute(llm._rp_oracle()).df()
        finally:
            con.close()
        res = compare_frames("rp_lsh_scale", spark_pdf, oracle_pdf)
        assert res.ok, res.detail
        scaled = {
            (int(a), int(b))
            for a, b in zip(spark_pdf["vec_a"], spark_pdf["vec_b"])
        }
        assert scaled <= base
        assert any(int(b) > 255 for b in spark_pdf["bucket"])
    finally:
        llm.RP_SCALE_MOD = saved


def test_dbscan_grid_refinement_is_result_invariant(spark):
    """q_dbscan_clusters' EXISTS-gated grid refinement (round-5
    capacity watch, closed round 14): with DBSCAN_SCALE_MOD patched
    down so the ⌈ε/2⌉-cell / 5×5-fan branch binds at sf0.1, the
    clustering output must be IDENTICAL to the ε-cell run — the
    refinement changes candidate generation only; the exact ε-box
    post-filter fixes the pair set. This is the invariance that makes
    the occupancy dial free to turn at any density."""
    import ex_aws_firehose_spark.operators.llm as llm

    sf10 = "/root/testdata/sf0.1"
    base = {
        (r.cluster_id, r.n_core, r.n_border)
        for r in llm.q_dbscan_clusters(spark, sf10).collect()
    }
    saved = llm.DBSCAN_SCALE_MOD
    llm.DBSCAN_SCALE_MOD = 64
    try:
        refined = {
            (r.cluster_id, r.n_core, r.n_border)
            for r in llm.q_dbscan_clusters(spark, sf10).collect()
        }
        assert refined == base
    finally:
        llm.DBSCAN_SCALE_MOD = saved
