"""Self-checks for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os

from perfbench import gen
from perfbench.spark_metrics import background_kind, plan_fingerprint
from perfbench.trace import Span, Tracer, covered, self_times
from perfbench.run import check_counts, code_version
from perfbench.workloads import (
    NAMED_QUERIES,
    ROSTER,
    ROUND,
    SF_DIR,
    pass_order,
    pct,
    tracing_overhead,
)


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# -- generator determinism ---------------------------------------------------


def test_raw_zone_is_byte_identical_per_seed(tmp_path):
    a = gen.make_raw_zone(str(tmp_path / "a"), seed=7, n_seasons=2)
    b = gen.make_raw_zone(str(tmp_path / "b"), seed=7, n_seasons=2)
    c = gen.make_raw_zone(str(tmp_path / "c"), seed=8, n_seasons=2)
    assert _tree_digest(a.path) == _tree_digest(b.path)
    assert _tree_digest(a.path) != _tree_digest(c.path)
    assert (a.staged_rows, a.quarantined, a.standings) == (b.staged_rows, b.quarantined, b.standings)


def test_schedules_are_deterministic():
    assert gen.query_batch(5, 3) == gen.query_batch(5, 3)
    assert gen.query_batch(5, 3) != gen.query_batch(5, 4)
    recent = list(range(100, 150))
    ids = gen.delete_batch(5, 2, recent, 1000)
    assert ids == gen.delete_batch(5, 2, recent, 1000)
    assert len(ids) == 20 and len(set(ids) & set(recent)) >= 10
    # a search reads through every delete's tombstones before the purge
    d = ROUND.index("delete")
    assert "search" in ROUND[d + 1 : ROUND.index("purge")]


def test_query_pass_order_is_seeded_and_covers_the_roster():
    assert pass_order(11, 0) == pass_order(11, 0)
    assert pass_order(11, 0) != pass_order(11, 1)
    for p in range(-2, 3):
        assert sorted(pass_order(11, p)) == sorted(ROSTER)
    assert set(NAMED_QUERIES) <= set(ROSTER)


def test_query_mix_reads_the_committed_test_tables():
    for table in ("lineitem", "orders", "customer", "documents", "embeddings", "events"):
        assert os.path.isfile(os.path.join(SF_DIR, f"{table}.parquet"))


# -- ground truth on a hand-checkable raw zone --------------------------------


def _match(r, date, home, away, ft=None):
    m = {"round": r, "date": date, "team1": home, "team2": away}
    if ft is not None:
        m["score"] = {"ft": list(ft)}
    return m


def test_expected_standings_on_a_tiny_zone():
    leagues = {"en": "EPL"}
    aliases = {"Reds FC": "Reds"}
    current = {
        "name": "EPL 2020-21",
        "season": "2020/21",
        "rounds": [
            {"name": "R1", "matches": [
                {"date": "2020-08-01", "team1": "Reds FC", "team2": "Blues", "score": {"ft": [2, 0]}},
                {"date": "2020-08-01", "team1": "Greens", "team2": "Whites", "score": {"ft": [1, 1]}},
            ]},
            {"name": "R2", "matches": [
                {"date": "2020-08-08", "team1": "Blues", "team2": "Greens", "score": {"ft": [0, 3]}},
                {"date": "2020-08-08", "team1": "Whites", "team2": "Reds"},  # unplayed
            ]},
        ],
    }
    stale = {"name": "EPL 2020-21", "matches": [_match("R1", "2020-08-01", "Reds", "Blues", (0, 5))]}
    dup = [_match("R1", "2021-08-01", "Reds", "Blues", (1, 0))] * 2
    files = [
        ("2020-21", "en.1.v2.json", stale, ""),
        ("2020-21", "en.1.v10.json", current, ""),  # natural sort: v10 wins
        ("2020-21", "en.1.v11.json", None, "{not json"),  # malformed: quarantined
        ("2020-21", "xx.1.json", current, ""),  # unknown league code: dropped
        ("2021-22", "en.1.json", {"name": "EPL 2021-22", "matches": dup}, ""),
        ("2021-22", "en.9.json", {"season": "x", "matches": []}, ""),  # no name
    ]
    out = gen._expected(files, leagues, aliases)
    assert out["quarantined"] == 2
    assert out["staged_rows"] == 4 + 1  # duplicate entry dedups to one
    assert out["generated_matches"] == 1 + 4 + 4 + 2
    table = {row[1:3]: row for row in out["standings"]}
    # (league, season, team, points, W, D, L, GF, GA, played, champion)
    assert table[("2020/21", "Reds")] == ("EPL", "2020/21", "Reds", 3, 1, 0, 0, 2, 0, 1, False)
    assert table[("2020/21", "Greens")] == ("EPL", "2020/21", "Greens", 4, 1, 1, 0, 4, 1, 2, True)
    assert table[("2020/21", "Blues")] == ("EPL", "2020/21", "Blues", 0, 0, 0, 2, 0, 5, 2, False)
    assert table[("2020/21", "Whites")] == ("EPL", "2020/21", "Whites", 1, 0, 1, 0, 1, 1, 1, False)
    # no season field: the season comes from the directory year
    assert table[("2021", "Reds")][3:] == (3, 1, 0, 0, 1, 0, 1, True)


def test_generated_zone_truth_is_consistent(tmp_path):
    z = gen.make_raw_zone(str(tmp_path / "z"), seed=1, n_seasons=3)
    files = sum(len(fs) for _, _, fs in os.walk(z.path))
    assert files == z.n_files
    assert 0 < z.staged_rows < z.generated_matches
    assert z.quarantined >= 3  # one missing-field document per season
    for row in z.standings:
        _, _, _, points, wins, draws, losses, *_, played, _ = row
        assert wins + draws + losses == played
        assert points == 3 * wins + draws
    champions = {(r[0], r[1]) for r in z.standings if r[-1]}
    assert champions == {(r[0], r[1]) for r in z.standings}
    with open(os.path.join(z.path, sorted(os.listdir(z.path))[0], "it.9.json")) as fh:
        assert json.load(fh).get("name") is None


# -- tracer arithmetic ---------------------------------------------------------


def test_covered_merges_overlapping_children():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(1, 3), (2, 4)], 2.5, 3.5) == 1
    assert covered([], 0, 1) == 0


def test_self_time_on_synthetic_nested_spans():
    spans = [
        Span("root", 0.0, 10.0, None, 0),
        Span("a", 1.0, 4.0, 0, 0),
        Span("b", 3.0, 6.0, 0, 0),  # overlaps a, as spans on other threads can
        Span("a.child", 1.5, 2.5, 1, 0),
        Span("c", 8.0, 9.0, 0, 0),
    ]
    assert self_times(spans) == [10 - 6, 2.0, 3.0, 1.0, 1.0]


def test_wrapped_function_records_nested_spans_at_every_binding():
    import sys
    import types

    mod = types.ModuleType("soccer_data_pipeline_spark._perfbench_selftest")
    sys.modules[mod.__name__] = mod
    try:
        def leaf(x):
            return x + 1

        def outer(x):
            return mod.leaf(x) + mod.alias(x)

        mod.leaf, mod.outer = leaf, outer
        mod.alias = leaf  # a second binding of the same function
        tr = Tracer()
        seen = []
        tr.wrap(mod, "leaf", "leaf", on_result=seen.append)
        tr.wrap(mod, "outer", "outer")
        assert mod.alias is mod.leaf
        assert mod.outer(1) == 4 and not tr.spans  # disabled: no spans
        tr.enabled = True
        assert mod.outer(1) == 4
        names = [s.name for s in tr.spans]
        assert names == ["outer", "leaf", "leaf"]
        assert [s.parent for s in tr.spans] == [None, 0, 0]
        assert seen == [2, 2]
        tr.unwrap_all()
        assert mod.leaf is leaf and mod.alias is leaf and mod.outer is outer
    finally:
        del sys.modules[mod.__name__]


# -- metric helpers --------------------------------------------------------------


def test_plan_fingerprint_skips_the_initial_adaptive_plan():
    plan = "\n".join([
        "== Physical Plan ==",
        "AdaptiveSparkPlan (20)",
        "+- == Final Plan ==",
        "   * BroadcastHashJoin Inner BuildRight (12)",
        "   :- ShuffleQueryStage (5)",
        "   :  +- Exchange (4)",
        "   :     +- * Scan parquet (1)",
        "   +- BroadcastQueryStage (11)",
        "      +- BroadcastExchange (10)",
        "         +- * Scan parquet (6)",
        "+- == Initial Plan ==",
        "   SortMergeJoin (19)",
        "   :- Exchange (15)",
        "   +- Exchange (18)",
        "",
        "(1) Scan parquet",
        "Exchange details that must not count",
    ])
    assert plan_fingerprint(plan) == (1, 1, 1)


def test_background_threads_are_the_jit_compilers_and_g1_collectors():
    # /proc comm names, cut to 15 characters
    for name in ("C2 CompilerThre", "C1 CompilerThre"):
        assert background_kind(name) == "jit", name
    for name in ("GC Thread#3", "G1 Conc#0", "G1 Main Marker", "G1 Refine#0", "G1 Service"):
        assert background_kind(name) == "gc", name
    for name in ("Executor task l", "Thread-3", "dag-scheduler-e", "java", "VM Thread",
                 "shuffle-exchang", "spark-listener-"):
        assert background_kind(name) is None, name


def test_percentile_and_overhead():
    assert pct([5, 1, 4, 2, 3], 0.5) == 3
    assert pct(list(range(1, 11)), 0.9) == 9
    samples = [("q", True, 2.0), ("q", False, 1.5), ("r", True, 1.0), ("r", False, 1.0)]
    assert tracing_overhead(samples) == 0.25


# -- the cross-run count record ---------------------------------------------------


def test_count_record_flags_a_change_and_keeps_the_newest(tmp_path):
    path = str(tmp_path / "counts" / "w-seed1.json")
    assert check_counts(path, {"q": [3, 5, 1, 0, 1]}) == []
    assert check_counts(path, {"q": [3, 5, 1, 0, 1], "r": [1, 1, 0, 0, 0]}) == []
    assert len(check_counts(path, {"q": [2, 4, 1, 0, 1]})) == 1
    assert check_counts(path, {"q": [2, 4, 1, 0, 1]}) == []


def test_code_version_follows_the_sources(tmp_path):
    lib = tmp_path / "soccer_data_pipeline_spark"
    lib.mkdir()
    (lib / "a.py").write_text("x = 1\n")
    before = code_version(str(tmp_path), "4.0.0")
    assert code_version(str(tmp_path), "4.0.0") == before
    assert code_version(str(tmp_path), "4.0.1") != before
    (lib / "a.py").write_text("x = 2\n")
    assert code_version(str(tmp_path), "4.0.0") != before
