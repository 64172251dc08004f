"""Hypothesis property tests (SURVEY.md §5.3) for the derivation logic
and the skew-safe aggregation, plus salted-agg equivalence."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from soccer_data_pipeline_spark.operators.skew import salted_aggregate

score = st.one_of(st.none(), st.integers(min_value=0, max_value=12))


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(score, score),
        min_size=1,
        max_size=30,
    )
)
def test_winner_points_invariants(spark, scores):
    """For any score vector: points conservation + W/D/L partition."""
    from soccer_data_pipeline_spark.schemas import MATCHES_RAW
    import json

    matches = [
        {
            "round": "R1",
            "date": "2020-01-01",
            "team1": "A",
            "team2": "B",
            "score": (
                {"ft": [h, a]} if h is not None and a is not None else {}
            ),
        }
        for h, a in scores
    ]
    doc = {"name": "L", "season": "2020", "matches": matches}
    import tempfile, os

    from soccer_data_pipeline_spark.sources.json_source import (
        read_matches_raw,
        split_quarantine,
    )
    from soccer_data_pipeline_spark.operators import (
        explode_matches,
        normalize_matches,
    )

    with tempfile.TemporaryDirectory() as d:
        sub = os.path.join(d, "2020")
        os.makedirs(sub, exist_ok=True)
        with open(os.path.join(sub, "xx.1.json"), "w") as fh:
            json.dump(doc, fh)
        valid, _ = split_quarantine(read_matches_raw(spark, d))
        rows = normalize_matches(explode_matches(valid)).collect()
    assert len(rows) == len(scores)
    for r in rows:
        if r.winner is None:
            assert r.points_home is None and r.points_away is None
            assert r.ft_home is None or r.ft_away is None
        else:
            assert r.points_home + r.points_away in (2, 3)
            if r.ft_home > r.ft_away:
                assert (r.winner, r.points_home) == ("home", 3)
            elif r.ft_home < r.ft_away:
                assert (r.winner, r.points_away) == ("away", 3)
            else:
                assert (r.winner, r.points_home, r.points_away) == ("draw", 1, 1)


def test_salted_aggregate_equals_plain(spark):
    """Salted two-phase agg must equal the plain groupBy exactly."""
    import pyspark.sql.functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    from soccer_data_pipeline_spark.functions import cents

    df = li.select("l_returnflag", cents(F.col("l_quantity")).alias("qty_c"))
    plain = {
        (r.l_returnflag): (r.s, r.c, r.mn, r.mx)
        for r in df.groupBy("l_returnflag")
        .agg(
            F.sum("qty_c").alias("s"),
            F.count("qty_c").alias("c"),
            F.min("qty_c").alias("mn"),
            F.max("qty_c").alias("mx"),
        )
        .collect()
    }
    salted = salted_aggregate(
        df,
        ["l_returnflag"],
        {"qty_c": "sum"},
        n_salts=8,
    )
    got = {r.l_returnflag: r.qty_c_sum for r in salted.collect()}
    for k, (s, _, _, _) in plain.items():
        assert got[k] == s


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=400),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_exact(samples, rate):
    """encode→decode is the identity on 16-bit integer PCM: every
    sample comes back as exactly v/32768, and the header metadata
    (channels, rate, frame count) survives."""
    import struct

    from soccer_data_pipeline_spark.functions.wav_codec import decode_wav, encode_wav

    frames = b"".join(struct.pack("<h", v) for v in samples)
    ch, r, n, out = decode_wav(encode_wav(1, rate, 2, frames))
    assert (ch, r, n) == (1, rate, len(samples))
    assert out == [v / 32768.0 for v in samples]


@settings(max_examples=25, deadline=None)
@given(
    st.lists(  # target rows: unique keys
        st.tuples(st.integers(0, 15), st.integers(0, 99)),
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    st.lists(  # source rows: (key, value, seq) — duplicate keys allowed
        st.tuples(st.integers(0, 15), st.integers(0, 99), st.integers(0, 9)),
        max_size=12,
    ),
)
def test_merge_upsert_batch_matches_reference(spark, target_rows, source_rows):
    """merge_upsert_batch ≡ a dict applying per-key max-seq source
    values over the target (ties break to the larger value via the
    deterministic row_number orderBy extension below being on seq
    only — so restrict generated seqs to be unique per key first)."""
    from soccer_data_pipeline_spark.streaming import merge_upsert_batch

    # make seq unique per key so "latest" is well-defined for the
    # reference (the operator's tie-break within equal seq is
    # row_number-arbitrary by contract)
    seen: dict[tuple[int, int], bool] = {}
    src = []
    for k, v, s in source_rows:
        if (k, s) not in seen:
            seen[(k, s)] = True
            src.append((k, v, s))

    ref = {k: v for k, v in target_rows}
    latest: dict[int, tuple[int, int]] = {}
    for k, v, s in src:
        if k not in latest or s > latest[k][1]:
            latest[k] = (v, s)
    for k, (v, _) in latest.items():
        ref[k] = v

    target = spark.createDataFrame(
        [(k, v, -1) for k, v in target_rows] or [(999999, 0, -1)],
        "key long, value long, seq long",
    )
    if not target_rows:
        target = target.where("key < 0")  # empty target with schema
    source = spark.createDataFrame(
        src or [(999999, 0, 0)], "key long, value long, seq long"
    )
    if not src:
        source = source.where("key < 0")
    out = merge_upsert_batch(target, source, "key", seq_col="seq")
    got = {r.key: r.value for r in out.collect()}
    assert got == ref


@settings(max_examples=10, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=60),
    st.text(alphabet="abc123", min_size=1, max_size=6),
)
def test_shuffle_order_permutation_property(spark, ids, seed):
    """For ANY id set and seed: positions are a permutation of 0..n-1
    and agree with the definitional global ROW_NUMBER rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from soccer_data_pipeline_spark.operators.corpus import shuffle_order

    docs = spark.createDataFrame([(i,) for i in sorted(ids)], "doc_id: long")
    got = {r.doc_id: r.global_pos for r in shuffle_order(docs, seed=seed).collect()}
    assert sorted(got.values()) == list(range(len(ids)))
    hk = F.md5(
        F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string")).cast("binary")
    )
    naive = {
        r.doc_id: r.pos
        for r in docs.select("doc_id", hk.alias("hk"))
        .withColumn("pos", F.row_number().over(Window.orderBy("hk", "doc_id")) - 1)
        .collect()
    }
    assert got == naive


def test_analytics_output_invariants(spark):
    """Cross-cutting invariants the oracle differential can't express:
    probability rows sum to 1, grids are dense, concentration stats
    stay in range. Cheap (sf0.001) and independent of DuckDB."""
    import pyspark.sql.functions as F

    from soccer_data_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"

    # transition probabilities: each prev_type's row sums to 1 exactly
    # (shares of an exact integer partition)
    tm = QUERIES["event_transition_matrix"].fn(spark, sf)
    sums = tm.groupBy("prev_type").agg(F.sum("p_trans").alias("s")).collect()
    assert sums and all(abs(r.s - 1.0) < 1e-9 for r in sums)

    # histogram shares: sum to 1 per language
    h = QUERIES["doc_length_histogram"].fn(spark, sf)
    hs = h.groupBy("lang").agg(F.sum("lang_share").alias("s")).collect()
    assert hs and all(abs(r.s - 1.0) < 1e-9 for r in hs)

    # gap-fill: exactly days x types rows, zero-filled counts sum to
    # the raw event count
    g = QUERIES["event_gapfill_daily"].fn(spark, sf)
    n_days = g.select("day").distinct().count()
    n_types = g.select("event_type").distinct().count()
    assert g.count() == n_days * n_types
    from soccer_data_pipeline_spark.sources import load_table

    assert (
        g.agg(F.sum("n_events")).collect()[0][0]
        == load_table(spark, sf, "events").count()
    )

    # concentration: Gini in [0, 1), top decile holds at least its
    # uniform share
    rc = QUERIES["revenue_concentration"].fn(spark, sf).collect()[0]
    assert 0.0 <= rc.gini < 1.0
    assert rc.top_decile_share >= 0.1

    # chi-square: statistic non-negative, dof matches the 20x5 grid
    cs = QUERIES["chi_square_independence"].fn(spark, sf).collect()[0]
    assert cs.chi2 >= 0.0 and cs.dof == (20 - 1) * (5 - 1)

    # containment: every direction in (0, 1], gate respected
    cp = QUERIES["shingle_containment_pairs"].fn(spark, sf)
    bad = cp.where(
        (F.col("containment_a") <= 0)
        | (F.col("containment_a") > 1.0000001)
        | (F.col("containment_b") <= 0)
        | (F.col("containment_b") > 1.0000001)
        | (
            (F.col("containment_a") < 0.5) & (F.col("containment_b") < 0.5)
        )
    ).count()
    assert bad == 0


def test_ewma_level_invariants(spark):
    """EWMA levels are convex combinations: every level lies within
    [min(n), max(n)] of the prefix seen so far; the first day has no
    forecast error; errors reconcile with the recursion
    (level_t = level_{t-1} + alpha * error_t)."""
    from soccer_data_pipeline_spark.plans import QUERIES

    rows = sorted(
        QUERIES["daily_ewma_forecast"].fn(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.day,
    )
    assert rows[0].forecast_error is None
    lo = hi = rows[0].n
    prev_level = rows[0].ewma_level
    assert prev_level == float(rows[0].n)
    for r in rows[1:]:
        lo, hi = min(lo, r.n), max(hi, r.n)
        assert lo - 1e-6 <= r.ewma_level <= hi + 1e-6
        # recursion check (both sides rounded to 6dp, so allow 2e-6)
        assert abs(r.ewma_level - (prev_level + 0.3 * r.forecast_error)) < 2e-6
        prev_level = r.ewma_level


def test_sketch_forecast_encoding_invariants(spark):
    """Invariants of the r7 sketch/forecast/encoding batch that the
    value-hash differential can't express (it proves engine agreement,
    not that the math means what the docstring claims)."""
    import pyspark.sql.functions as F

    from soccer_data_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"

    # count-min: estimate >= exact always (one-sided error is THE
    # sketch guarantee), and exactly 20 probes ranked 1..20
    cm = QUERIES["countmin_token_freq"].fn(spark, sf).collect()
    assert len(cm) == 20 and sorted(r.rk for r in cm) == list(range(1, 21))
    assert all(r.overestimate >= 0 for r in cm)
    assert all(r.cm_estimate == r.exact_n + r.overestimate for r in cm)

    # ACF: |acf| <= 1 (Cauchy-Schwarz), all 7 lags present, pair
    # counts strictly decreasing as the lag eats the series tail
    acf = {r.lag: r for r in QUERIES["acf_daily_events"].fn(spark, sf).collect()}
    assert sorted(acf) == list(range(1, 8))
    assert all(abs(acf[k].acf) <= 1.0 + 1e-9 for k in acf)
    assert all(acf[k].n_pairs >= acf[k + 1].n_pairs for k in range(1, 7))

    # A/B z-test: arms partition the table, rates in [0,1], and the
    # hash split is balanced to within 10% at this sf
    ab = QUERIES["ab_test_proportions"].fn(spark, sf).collect()[0]
    from soccer_data_pipeline_spark.sources import load_table

    assert ab.n_a + ab.n_b == load_table(spark, sf, "orders").count()
    assert 0.0 <= ab.p_a <= 1.0 and 0.0 <= ab.p_b <= 1.0
    assert abs(ab.n_a - ab.n_b) < 0.1 * (ab.n_a + ab.n_b)

    # LOO encoding: every encoding strictly inside the observed
    # per-segment value range union the prior (smoothing pulls toward
    # the global mean, never outside the data's convex hull)
    te = QUERIES["target_encoding_loo"].fn(spark, sf)
    orders = load_table(spark, sf, "orders")
    lo, hi = orders.agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).collect()[0]
    bad = te.where(
        (F.col("loo_encoding") < lo - 1) | (F.col("loo_encoding") > hi + 1)
    ).count()
    assert bad == 0 and te.count() > 0

    # Holt: with beta>0 the trend reacts to a ramp — level+trend must
    # differ from the plain EWMA level on real data; errors start at
    # row 2 (first row has no forecast)
    hl = QUERIES["holt_linear_forecast"].fn(spark, sf).orderBy("day").collect()
    assert hl[0].forecast_error is None
    assert all(r.forecast_error is not None for r in hl[1:])
    assert any(abs(r.holt_trend) > 1e-9 for r in hl)

    # compaction: bins are contiguous in shard order and conserve
    # bytes; no bin exceeds target + max single shard (bin packing's
    # additive overflow bound)
    cp = QUERIES["compaction_plan_bins"].fn(spark, sf).orderBy("shard_id").collect()
    tot = sum(r.shard_bytes for r in cp)
    target = (tot + 5) // 6
    seen_bins = [r.bin_id for r in cp]
    assert seen_bins == sorted(seen_bins)  # contiguity in shard order
    from collections import defaultdict

    per_bin = defaultdict(int)
    for r in cp:
        per_bin[r.bin_id] += r.shard_bytes
    assert sum(per_bin.values()) == tot
    max_shard = max(r.shard_bytes for r in cp)
    assert all(v <= target + max_shard for v in per_bin.values())


def test_bfs_bigram_rolling_invariants(spark):
    """Definitional invariants for the BFS / bigram-LM / rolling
    distinct batch, independent of the DuckDB differential."""
    import pyspark.sql.functions as F

    from soccer_data_pipeline_spark.plans import QUERIES
    from soccer_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"

    # BFS: exactly one seed at hop 0, all hops in 0..3, and hop-1 is
    # exactly the seed's neighborhood in the mirrored edge set
    bfs = QUERIES["bfs_hops_supplier"].fn(spark, sf).collect()
    hops = {}
    for r in bfs:
        hops.setdefault(r.hop, set()).add(r.node)
    assert set(hops) <= {0, 1, 2, 3} and len(hops[0]) == 1
    from soccer_data_pipeline_spark.plans.analytics_queries import _supplier_edges

    seed = next(iter(hops[0]))
    e = _supplier_edges(spark, sf)
    nbrs = {
        r.n
        for r in e.where((F.col("u") == seed) | (F.col("v") == seed))
        .select(
            F.when(F.col("u") == seed, F.col("v")).otherwise(F.col("u")).alias("n")
        )
        .collect()
    }
    assert hops.get(1, set()) == nbrs

    # bigram LM: strictly positive cross-entropy (smoothed p < 1
    # always) and n_bigrams = n_tokens - 1 per multi-token doc
    bl = QUERIES["bigram_lm_score"].fn(spark, sf)
    assert bl.where(F.col("bigram_xent_nats") <= 0).count() == 0
    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("nt"),
    )
    mism = (
        bl.join(docs, "doc_id")
        .where(F.col("n_bigrams") != F.col("nt") - 1)
        .count()
    )
    assert mism == 0

    # rolling distinct: the 7-day count dominates the daily count and
    # never exceeds the sum of the trailing 7 daily counts
    rd = {r.day: r for r in QUERIES["rolling_distinct_users"].fn(spark, sf).collect()}
    import datetime as dt

    for day, r in rd.items():
        assert r.users_7d >= r.users_1d
        cap = sum(
            rd[day - dt.timedelta(days=k)].users_1d
            for k in range(7)
            if day - dt.timedelta(days=k) in rd
        )
        assert r.users_7d <= cap


def test_experimentation_tier_invariants(spark):
    """Design-level invariants of the CUPED/DiD/latency tier."""
    import pyspark.sql.functions as F

    from soccer_data_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"

    # CUPED: rho2 in [0,1]; adjustment preserves the overall weighted
    # mean exactly in expectation form: sum n_a*(adj - raw) =
    # -theta * sum n_a*(xbar_a - xbar) = 0 (up to the 4dp rounding)
    cu = QUERIES["cuped_adjustment"].fn(spark, sf).collect()
    assert len(cu) == 2
    assert all(0.0 <= r.rho2 <= 1.0 for r in cu)
    drift = sum(r.n_users * (r.mean_post_cuped - r.mean_post) for r in cu)
    n_tot = sum(r.n_users for r in cu)
    assert abs(drift / n_tot) < 1e-3  # 4dp rounding noise only

    # DiD: the estimate equals the cell arithmetic of its own columns
    d = QUERIES["did_estimator"].fn(spark, sf).collect()[0]
    expect = (d.mean_b_post - d.mean_b_pre) - (d.mean_a_post - d.mean_a_pre)
    assert abs(d.did_estimate - expect) < 1e-3

    # latency percentiles: ordered, positive, and bounded by the
    # observed event-time span
    t = QUERIES["time_to_convert_percentiles"].fn(spark, sf).collect()[0]
    assert t.n_converted > 0
    assert 0 < t.p25_s <= t.p50_s <= t.p90_s
    from soccer_data_pipeline_spark.sources import load_table

    ev = load_table(spark, sf, "events")
    span = ev.agg(
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / 1000000.0
    ).collect()[0][0]
    assert t.p90_s <= span


def test_bloom_vocab_winsor_invariants(spark):
    """Definitional invariants for the Bloom/overlap/robust-stats batch."""
    import pyspark.sql.functions as F

    from soccer_data_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"

    # Bloom: no false negatives is THE filter guarantee -> hits >=
    # true dups; fpr in [0,1]; fill bounded by k * train size and m
    bf = QUERIES["bloom_filter_fpr"].fn(spark, sf).collect()[0]
    assert bf.n_bloom_hits >= bf.n_true_dups
    assert 0.0 <= bf.observed_fpr <= 1.0
    assert bf.n_bits_set <= 65536

    # vocab overlap: symmetric-complete pair grid (a < b), jaccard in
    # (0,1], shared bounded by the smaller vocabulary
    vo = QUERIES["vocab_overlap_matrix"].fn(spark, sf).collect()
    langs = {r.lang_a for r in vo} | {r.lang_b for r in vo}
    assert len(vo) == len(langs) * (len(langs) - 1) // 2
    for r in vo:
        assert r.lang_a < r.lang_b
        assert 0.0 <= r.jaccard <= 1.0
        assert r.n_shared <= min(r.vocab_a, r.vocab_b)

    # winsorized/trimmed: both robust means inside [p5, p95]; the
    # winsorized mean dominated by raw iff upper tail heavier (no sign
    # assertion), but all three must lie within the value range
    w = QUERIES["winsorized_revenue_stats"].fn(spark, sf).collect()[0]
    assert w.p5_value <= w.trimmed_mean <= w.p95_value
    assert w.p5_value <= w.winsorized_mean <= w.p95_value
    assert w.n > 0


def test_privacy_q18_invariants(spark):
    """Invariants for the privacy tier and the Q18 composite."""
    import pyspark.sql.functions as F

    from soccer_data_pipeline_spark.plans import QUERIES
    from soccer_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"

    # k-anonymity: histogram conserves the customer count; risk flag
    # is exactly (size < 5)
    ka = QUERIES["k_anonymity_audit"].fn(spark, sf).collect()
    n_cust = load_table(spark, sf, "customer").count()
    assert sum(r.n_customers for r in ka) == n_cust
    assert all(r.is_risky == (1 if r.group_size < 5 else 0) for r in ka)
    assert all(r.n_customers == r.group_size * r.n_groups for r in ka)

    # DP: one row per nation; noise magnitude plausible for b=1
    # (P(|X|>20) = e^-20 — astronomically unlikely under the hash
    # uniform), and dp_count differs from the exact count (noise != 0)
    dp = QUERIES["dp_noisy_counts"].fn(spark, sf).collect()
    n_nations = load_table(spark, sf, "nation").select("n_name").distinct().count()
    assert len(dp) == n_nations
    assert all(abs(r.dp_count - r.n_customers) < 20 for r in dp)
    assert any(abs(r.dp_count - r.n_customers) > 1e-6 for r in dp)

    # Q18: every emitted order's quantity sum exceeds the gate; ranks
    # dense from 1; prices non-increasing in rank order
    q = QUERIES["tpch_q18_shape"].fn(spark, sf).orderBy("rk").collect()
    assert q and [r.rk for r in q] == list(range(1, len(q) + 1))
    assert all(r.sum_qty > 200.0 for r in q)
    assert all(q[i].o_totalprice >= q[i + 1].o_totalprice for i in range(len(q) - 1))


def test_bpe_learn_merges_matches_python_reference(spark, tmp_path):
    """bpe_learn_merges vs a plain-Python reference implementing the
    declared semantics (global pair count -> argmax by (count desc,
    pair asc) -> TWO passes of leftmost-nonoverlapping replace) on a
    fixture planted with the adversarial shapes: odd self-runs
    ('aaaaa' — where the two-pass rule's [aa, a, aa] tie choice
    differs from HF's priority applier), boundary-sharing chains
    ('ababab'), and merged-symbol adjacency across rounds."""
    import os

    import duckdb

    from soccer_data_pipeline_spark.plans import QUERIES

    src = "/root/testdata/sf0.001"
    sf = tmp_path / "sf_bpe"
    sf.mkdir()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ):
        os.symlink(f"{src}/{t}.parquet", sf / f"{t}.parquet")
    toks = ["aaaaa", "ababab", "banana", "aa", "abab", "baaab", "xy"]
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT 1 AS doc_id, '{" ".join(toks)}' AS text,
                 'xx' AS lang, 'synthetic' AS source, 1 AS label
        ) TO '{sf}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()

    def reference(tokens, rounds):
        ws = [" " + " ".join(t) + " " for t in tokens if len(t) >= 2]
        out = []
        prev_tot = sum(len(w.split()) for w in ws)
        for r in range(1, rounds + 1):
            counts = {}
            for w in ws:
                s = w.split()
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + 1
            if not counts:  # pair-exhausted: both engines emit no more rounds
                break
            (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            pat, rep = f" {a} {b} ", f" {a}{b} "
            ws = [w.replace(pat, rep).replace(pat, rep) for w in ws]
            tot = sum(len(w.split()) for w in ws)
            out.append((r, a, b, n, prev_tot - tot))
            prev_tot = tot
        return out

    got = [
        (r.round, r.pair_a, r.pair_b, r.pair_count, r.n_applied)
        for r in QUERIES["bpe_learn_merges"].fn(spark, str(sf)).collect()
    ]
    assert got == reference(toks, 4), got

    # pair-exhausted corpus: every token is 'ab', round 1 merges it all
    # and rounds 2-4 have no pairs left — the Spark side must stop (the
    # oracle's remaining m{r} CTEs are empty) and the differential must
    # still hash-match on the 1-row result
    sf2 = tmp_path / "sf_bpe_dry"
    sf2.mkdir()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ):
        os.symlink(f"{src}/{t}.parquet", sf2 / f"{t}.parquet")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT 1 AS doc_id, 'ab ab ab' AS text,
                 'xx' AS lang, 'synthetic' AS source, 1 AS label
        ) TO '{sf2}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    got2 = [
        (r.round, r.pair_a, r.pair_b, r.pair_count, r.n_applied)
        for r in QUERIES["bpe_learn_merges"].fn(spark, str(sf2)).collect()
    ]
    assert got2 == [(1, "a", "b", 3, 3)], got2
    assert got2 == reference(["ab", "ab", "ab"], 4)
    from tests.oracle_harness import compare

    ok, msg = compare(
        QUERIES["bpe_learn_merges"].fn(spark, str(sf2)),
        QUERIES["bpe_learn_merges"].oracle,
        str(sf2),
    )
    assert ok, msg


def test_pass_at_k_matches_comb_formula(spark):
    """pass@k product fold vs the definitional C(n-c,k)/C(n,k) from
    math.comb — independent recomputation at full double precision
    (the product form must agree with the binomial form to well under
    the 6-dp round for the data's n <= a few thousand)."""
    import math

    from soccer_data_pipeline_spark.plans import QUERIES

    rows = QUERIES["pass_at_k_eval"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 32
    for r in rows:
        n, c = r.n_samples, r.n_correct
        for k in (1, 5, 10):
            got = getattr(r, f"pass_at_{k}")
            if c == 0:
                expect = 0.0
            elif n - c < k:
                expect = 1.0
            else:
                expect = 1.0 - math.comb(n - c, k) / math.comb(n, k)
            assert abs(got - expect) < 5e-6, (n, c, k, got, expect)


def test_bradley_terry_matches_python_mm_reference(spark):
    """Two regularized MM iterations recomputed in plain Python from
    the collected (entity, n_games, wins) frame plus the pair matrix —
    verifies the rating algebra (including the virtual-opponent term
    and the closed-form first iteration) independently of both SQL
    engines, and the basic sanity that more wins at equal games never
    rates lower after iteration 1."""
    from pyspark.sql import functions as F

    from soccer_data_pipeline_spark.plans import QUERIES
    from soccer_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    out = {r.entity: r for r in QUERIES["bradley_terry_rating"].fn(spark, sf).collect()}

    # rebuild the symmetric pair matrix the same way the query does
    li = load_table(spark, sf, "lineitem").where("l_linenumber <= 2")
    b = F.col("l_suppkey") % 16
    two = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_linenumber") == 1, b)).alias("e1"),
        F.max(F.when(F.col("l_linenumber") == 2, b)).alias("e2"),
        F.max(F.when(F.col("l_linenumber") == 1, F.col("l_shipdate"))).alias("d1"),
        F.max(F.when(F.col("l_linenumber") == 2, F.col("l_shipdate"))).alias("d2"),
    ).where("e1 IS NOT NULL AND e2 IS NOT NULL AND e1 <> e2")
    games = [
        (r.e1, r.e2) if (r.d1, r.e1) < (r.d2, r.e2) else (r.e2, r.e1)
        for r in two.collect()
    ]
    n_ij: dict = {}
    wins: dict = {}
    for w_, l_ in games:
        n_ij[(w_, l_)] = n_ij.get((w_, l_), 0) + 1
        n_ij[(l_, w_)] = n_ij.get((l_, w_), 0) + 1
        wins[w_] = wins.get(w_, 0) + 1
    ents = sorted({e for pair in n_ij for e in pair})
    n_games = {
        e: sum(n for (i, _), n in n_ij.items() if i == e) for e in ents
    }
    s = {e: 1.0 for e in ents}
    for _ in range(2):
        new = {}
        for e in ents:
            denom = sum(
                n_ij[(e, j)] / (s[e] + s[j])
                for j in sorted(ents)
                if (e, j) in n_ij
            ) + 1.0 / (s[e] + 1.0)
            new[e] = (wins.get(e, 0) + 0.5) / denom
        s = new
    for e in ents:
        assert out[e].n_games == n_games[e]
        assert out[e].wins == wins.get(e, 0)
        assert abs(out[e].rating_2 - s[e]) < 5e-6, (e, out[e].rating_2, s[e])
    # monotonicity after the closed-form first iteration
    by_games: dict = {}
    for e in ents:
        by_games.setdefault(n_games[e], []).append(e)
    for _, grp in by_games.items():
        grp = sorted(grp, key=lambda e: wins.get(e, 0))
        for lo, hi in zip(grp, grp[1:]):
            assert out[lo].rating_1 <= out[hi].rating_1 + 1e-12


def test_winrate_trajectory_final_row_matches_bradley_terry(spark):
    """Cross-query invariant: each entity's LAST cumulative trajectory
    row must reproduce bradley_terry_rating's (n_games, wins) — the two
    queries derive from the shared _bt_games comparisons — and the
    cumulative columns must be non-decreasing with exact ratio columns."""
    from soccer_data_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    bt = {r.entity: r for r in QUERIES["bradley_terry_rating"].fn(spark, sf).collect()}
    rows = QUERIES["winrate_trajectory"].fn(spark, sf).collect()
    by_ent: dict = {}
    for r in rows:
        by_ent.setdefault(r.entity, []).append(r)
    assert set(by_ent) == set(bt)
    for e, rs in by_ent.items():
        rs.sort(key=lambda r: r.game_month)
        cg = cw = 0
        for r in rs:
            cg += r.n_games
            cw += r.n_wins
            assert (r.cum_games, r.cum_wins) == (cg, cw)
            assert abs(r.winrate_cum - round(cw / cg, 6)) < 1e-9
            assert abs(r.rating_smoothed - round((cw + 1) / (cg + 2), 6)) < 1e-9
        assert rs[-1].cum_games == bt[e].n_games
        assert rs[-1].cum_wins == bt[e].wins


def test_bpe_sampled_equals_unsampled_when_sample_covers_corpus(spark):
    """At sf0.001 the bounded sample (2048 smallest-md5 docs) IS the
    whole 500-doc corpus, so the sampled learner's merge table —
    including the full-corpus n_applied totals computed through the
    one-pass chained apply — must equal the unsampled learner's row
    for row. Verifies the chained-replace apply against the per-round
    rewrite independently of the SQL oracles."""
    from soccer_data_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, QUERIES["bpe_learn_merges"].fn(spark, sf).collect()))
    b = sorted(
        map(tuple, QUERIES["bpe_learn_merges_sampled"].fn(spark, sf).collect())
    )
    assert a == b and len(a) == 4


def test_cohens_kappa_matches_python_definition(spark):
    """Recompute kappa from the collected rater columns with the
    textbook float definition (po − pe)/(1 − pe) — verifies the
    integer-numerator algebra independently of both SQL engines."""
    from soccer_data_pipeline_spark.plans import QUERIES
    from soccer_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    out = QUERIES["cohens_kappa_raters"].fn(spark, sf).collect()[0]
    rows = load_table(spark, sf, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).collect()
    pairs = [
        (
            1 if r.o_orderstatus == "F" else 0,
            1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0,
        )
        for r in rows
    ]
    n = len(pairs)
    n11 = sum(1 for a, b in pairs if a and b)
    n10 = sum(1 for a, b in pairs if a and not b)
    n01 = sum(1 for a, b in pairs if not a and b)
    n00 = n - n11 - n10 - n01
    assert (out.n, out.n00, out.n01, out.n10, out.n11) == (n, n00, n01, n10, n11)
    po = (n00 + n11) / n
    pe = ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10)) / (n * n)
    kappa = (po - pe) / (1 - pe)
    assert abs(out.kappa - kappa) < 1e-6
    assert abs(out.po - po) < 1e-6 and abs(out.pe - pe) < 1e-6


def test_fleiss_kappa_matches_python_definition(spark):
    """Recompute Fleiss' kappa from the collected rater votes with the
    textbook float definition (P̄ − P̄e)/(1 − P̄e) over per-item
    agreement P_i = (Σ_j n_ij(n_ij−1))/(n(n−1)) — verifies the
    integer-numerator algebra independently of both SQL engines."""
    from soccer_data_pipeline_spark.plans import QUERIES
    from soccer_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    out = QUERIES["fleiss_kappa_raters"].fn(spark, sf).collect()[0]
    rows = load_table(spark, sf, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    ).collect()
    votes = [
        (1 if r.o_orderstatus == "F" else 0)
        + (1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0)
        + (1 if float(r.o_totalprice) > 150000 else 0)
        for r in rows
    ]
    n_items = len(votes)
    t1 = sum(votes)
    s = sum((3 - v) ** 2 + v**2 for v in votes)
    assert (out.n, out.n_raters, out.t0, out.t1, out.s) == (
        n_items, 3, 3 * n_items - t1, t1, s,
    )
    p_i = [(v * (v - 1) + (3 - v) * (2 - v)) / 6 for v in votes]
    p_bar = sum(p_i) / n_items
    p1 = t1 / (3 * n_items)
    p_e = p1 * p1 + (1 - p1) * (1 - p1)
    kappa = (p_bar - p_e) / (1 - p_e)
    assert abs(out.p_bar - p_bar) < 1e-6
    assert abs(out.p_e - p_e) < 1e-6
    assert abs(out.kappa - kappa) < 1e-6


def test_bpe_production_apply_equals_sampled_learner(spark):
    """The production-depth path (driver-side pure-Python learn over
    the bounded sample + ONE Arrow mapInPandas apply) must reproduce
    bpe_learn_merges_sampled row for row — same merges, same
    pair_counts, same full-corpus n_applied totals — verifying both
    the Python learner against the Spark learner and the memoized
    two-pass-replace apply against the chained-expression apply,
    independently of the shared SQL oracle."""
    from soccer_data_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    a = sorted(
        map(tuple, QUERIES["bpe_learn_merges_sampled"].fn(spark, sf).collect())
    )
    b = sorted(
        map(tuple, QUERIES["bpe_apply_production"].fn(spark, sf).collect())
    )
    assert a == b and len(a) == 4


def test_bpe_apply_totals_depth_modes_agree(spark):
    """apply_merges_totals at R=16 (beyond the registered R=4): the
    prefix-tracking and endpoints-only modes agree on t0 and the final
    total per document, and totals are monotone non-increasing across
    the prefix ladder (each merge can only shrink symbol counts)."""
    from soccer_data_pipeline_spark.operators.bpe import (
        apply_merges_totals,
        learn_merges_local,
    )
    from soccer_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    merges = [(a, b) for _, a, b, _ in learn_merges_local(texts, 16)]
    assert len(merges) == 16
    full = {
        r["doc_id"]: tuple(r[f"t{i}"] for i in range(17))
        for r in apply_merges_totals(docs, merges).collect()
    }
    ends = {
        r["doc_id"]: (r["t0"], r["t16"])
        for r in apply_merges_totals(
            docs, merges, track_prefixes=False
        ).collect()
    }
    assert ends == {k: (v[0], v[-1]) for k, v in full.items()}
    for v in full.values():
        assert all(x >= y for x, y in zip(v, v[1:]))


def test_semdedup_incremental_base_wins_policy(spark):
    """Incremental SemDeDup policy on a constructed fixture (k=1, one
    cell): a new vector duplicating a BASE vector always drops (base
    wins); an unpaired new vector keeps; a new-new dup cluster keeps
    exactly its farthest-from-centroid member; base vectors are never
    emitted."""
    from soccer_data_pipeline_spark.operators.semdedup import (
        semdedup_incremental_actions,
    )

    schema = "vec_id bigint, embedding array<float>"
    base = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])], schema
    )
    new = spark.createDataFrame(
        [
            (1, [0.99, 0.01, 0.0, 0.0]),   # ~dup of base 100 -> drop
            (2, [0.0, 0.0, 1.0, 0.0]),     # orthogonal -> keep
            (3, [0.0, 0.0, 0.1, 0.99]),    # new-new cluster with 4
            (4, [0.0, 0.0, 0.05, 0.995]),  # farther from centroid -> keeper
        ],
        schema,
    )
    out = {r.vec_id: r.action for r in
           semdedup_incremental_actions(base, new, k=1).collect()}
    assert out == {
        1: "drop_semantic",
        2: "keep",
        3: "drop_semantic",
        4: "keep",
    }


def test_semdedup_incremental_matches_batch_when_base_empty_pairs(spark):
    """With an EMPTY new batch the incremental form emits nothing; and
    every new doc that pairs with a base doc is dropped while the base
    side never appears in the output (checked on the real corpus)."""
    from pyspark.sql import functions as F

    from soccer_data_pipeline_spark.operators.semdedup import (
        semdedup_incremental_actions,
    )
    from soccer_data_pipeline_spark.plans import QUERIES
    from soccer_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    empty = emb.where(F.lit(False))
    assert semdedup_incremental_actions(base, empty).count() == 0

    rows = QUERIES["semantic_dedup_incremental"].fn(spark, sf).collect()
    new_ids = {r.vec_id for r in emb.where(F.col("vec_id") % 3 == 0).collect()}
    assert {r.vec_id for r in rows} == new_ids


def test_semdedup_incremental_empty_base_falls_back_to_batch(spark):
    """ADVICE r13: an EMPTY base used to yield no centroids, no pairs,
    and 'keep' for everything — exact duplicates within the first
    batch silently passed. The fallback runs the BATCH operator on the
    new frame, so within-batch dups are caught."""
    from soccer_data_pipeline_spark.operators.semdedup import (
        semantic_actions,
        semdedup_incremental_actions,
    )

    schema = "vec_id bigint, embedding array<float>"
    base = spark.createDataFrame([], schema)
    new = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),  # exact dup of 1
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        schema,
    )
    out = {r.vec_id: r.action for r in
           semdedup_incremental_actions(base, new).collect()}
    assert sorted(a for a in out.values()) == [
        "drop_semantic", "keep", "keep"
    ]
    assert out[3] == "keep"
    batch = {r.vec_id: r.action for r in semantic_actions(new).collect()}
    assert out == batch
