"""The benchmark's own tests: seeded generators, statistics, the metric
grammar, the compare verdicts and the event-log reduction. None of them
starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

import pytest

from perfbench import compare, gen, stats, trace
from perfbench.workloads import matches_oracle

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


# ------------------------------------------------------------ generators


def test_tables_same_seed_byte_identical(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    counts = gen.make_tables(a, 0.0005, seed=7)
    gen.make_tables(b, 0.0005, seed=7)
    assert _digest(a) == _digest(b)
    assert len(counts) == 10 and all(n > 0 for n in counts.values())


def test_tables_other_seed_differ(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen.make_tables(a, 0.0005, seed=7)
    gen.make_tables(b, 0.0005, seed=8)
    da, db = _digest(a), _digest(b)
    # region/nation are fixed dimension tables; every generated one differs
    assert {t for t in da if da[t] != db[t]} == set(da) - {"region.parquet", "nation.parquet"}


def _drops(seed: int, n: int = 300, k: int = 3):
    d = gen.TweetDrops(seed, n)
    return [d.drop(i) for i in range(k)]


def test_tweet_drops_seeded():
    assert _drops(3) == _drops(3)
    assert _drops(3) != _drops(4)


def test_tweet_drops_redeliver_previous_drop():
    (l0, loaded0, staged0), (l1, loaded1, staged1), _ = _drops(5, n=400)
    assert staged0 == loaded0  # nothing to redeliver into the first drop
    assert len(l1) == 400 + 20  # 5% of the previous drop again
    assert set(l0) & set(l1)  # redeliveries are exact copies
    assert 0 < loaded1 < staged1


def test_tweet_drop_expected_rows_match_recount():
    d = gen.TweetDrops(9, 200)
    lines, loaded, staged = d.drop(0)
    recs = [json.loads(x) for x in lines]
    want = sum(len(set(gen._clean_hashtags(r["hashtags"]))) for r in recs if gen.TweetDrops.passes(r))
    assert loaded == staged == want
    assert any(not gen.TweetDrops.passes(r) for r in recs)  # the filter has work


def test_tweet_drops_follow_the_engine_tweet_model():
    d = gen.TweetDrops(2, 1430)
    lines, loaded, _ = d.drop(0)
    recs = {int(r["tweet_id"]): r for r in map(json.loads, lines)}
    for t, r in recs.items():
        doc = d.docs[t % gen.TWEET_DOCS]
        assert r["text"] == f'RT {doc} https://t.co/x1 "q" & amp;'
        assert r["hashtags"] == ("" if t % 13 == 0 else " ".join(doc.split(" ")[:3]))
        assert (r["rt_count"] <= 99) == (t % 11 == 0)
        assert gen.TweetDrops.passes(r) == (t % 11 != 0 and t % 13 != 0)
    assert 2.3 < loaded / len(lines) < 2.6  # ~2.9 distinct tags x 84% kept


def test_front_door_lines_seeded_and_counted():
    a = gen.front_door_lines(11, 0, 2000)
    assert a == gen.front_door_lines(11, 0, 2000)
    assert a != gen.front_door_lines(12, 0, 2000)
    assert a != gen.front_door_lines(11, 1, 2000)
    lines, counts = a
    assert sum(counts.values()) == len(lines) == 2000
    for cls, rate in gen.FD_RATES.items():
        assert abs(counts[cls] / 2000 - rate) < 0.02, cls


# ------------------------------------------------------------ statistics


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_has_ten_beyond(n, pct):
    xs = [float(i) for i in range(n)]
    got = stats.tail(xs)
    if pct is None:
        assert got is None
        return
    p, value, count = got
    assert (p, count) == (pct, n)
    assert sum(x > value for x in xs) >= stats.TAIL_MIN_BEYOND
    # and no higher listed percentile would still leave ten beyond
    higher = [q for q in stats.TAIL_PERCENTILES if q > p]
    for q in higher:
        rank = -(-round(q * 10) * n // 1000)
        assert n - rank < stats.TAIL_MIN_BEYOND


def test_quartiles_match_statistics():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    q1, med, q3 = stats.quartiles(xs)
    assert (q1, med, q3) == tuple(statistics.quantiles(xs, n=4))
    assert stats.spread(xs) == pytest.approx((q3 - q1) / med)


@pytest.mark.parametrize("name", ["op_p50_s", "exec.task_run_ms", "operators.build_s.q41_minhash_lsh", "9x", "a-b"])
def test_metric_names_valid(name):
    assert stats.valid_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "op p50", "x" * 65, "rows/s", "é"])
def test_metric_names_invalid(name):
    assert not stats.valid_name(name)


def test_units():
    for u in ("ms", "s", "1/s", "count", "%", "B", "MiB", "rows/s"):
        assert stats.valid_unit(u)
    for u in ("", "m s", "x" * 17):
        assert not stats.valid_unit(u)


def test_benchmark_json_follows_the_grammar():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60 and isinstance(bench["run_seconds"], int)
    assert 2 <= len(bench["workloads"]) <= 8
    names = [w["name"] for w in bench["workloads"]] + [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_name(n) for n in names)
    assert all(stats.valid_unit(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in bench["end_to_end"])}]
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


# --------------------------------------------------------------- compare


BASE = [1.00, 1.02, 0.98, 1.01, 0.99, 1.00, 1.03, 0.97, 1.01, 0.99]


def test_verdict_better():
    change = [x * 0.8 for x in BASE]
    assert compare.win_fraction(BASE, change, "lower") == 1.0
    assert compare.verdict(BASE, change, "lower", 0.1) == "better"
    assert compare.verdict(BASE, [x * 1.25 for x in BASE], "higher", 0.1) == "better"


def test_verdict_worse():
    assert compare.verdict(BASE, [x * 1.2 for x in BASE], "lower", 0.1) == "worse"
    assert compare.verdict(BASE, [x * 0.8 for x in BASE], "higher", 0.1) == "worse"


def test_verdict_within_bound():
    change = list(reversed(BASE))  # same distribution, no clear winner
    assert compare.verdict(BASE, change, "lower", 0.1) == "within bound"
    assert compare.verdict(BASE, [x * 1.05 for x in BASE], "lower", 0.1) == "within bound"


def test_verdict_unresolved_when_spread_exceeds_bound():
    noisy = [0.6, 1.4, 0.7, 1.3, 0.8, 1.2, 0.9, 1.1, 0.5, 1.5]
    assert compare.verdict(BASE, noisy, "lower", 0.1) == "unresolved"
    assert compare.verdict(noisy, BASE, "lower", 0.1) == "unresolved"


def test_compare_reads_result_dirs(tmp_path):
    bench = {
        "workloads": [{"name": "w1", "why": "x"}],
        "end_to_end": [{"name": "cpu_s_per_op", "unit": "s", "better": "lower", "bound": 0.1}],
        "per_layer": [{"name": "trace.cpu_s_per_op", "unit": "s", "better": "lower"}],
    }
    for side, scale in (("p", 1.0), ("c", 0.7)):
        d = tmp_path / side
        d.mkdir()
        with open(d / "w1.jsonl", "w") as f:
            for x in BASE:
                f.write(json.dumps({"metrics": {"cpu_s_per_op": {"value": x * scale, "unit": "s"}}}) + "\n")
        with open(d / "w1.trace.jsonl", "w") as f:
            f.write(json.dumps({"metrics": {"trace.cpu_s_per_op": {"value": 1.1 * scale, "unit": "s"}}}) + "\n")
    rows = compare.compare(str(tmp_path / "p"), str(tmp_path / "c"), bench)
    assert rows[0][:2] == ("w1", "cpu_s_per_op") and rows[0][-1] == "better"
    oh = [r for r in rows if r[1].startswith("tracing overhead")]
    assert [r[2] for r in oh] == ["+0.100", "+0.100"]


# ----------------------------------------------------------------- trace


def test_tree_cpu_counts_the_process_and_its_children():
    import subprocess
    import sys

    from perfbench.run import tree_cpu_s

    me = os.getpid()
    before = tree_cpu_s(me)
    child = subprocess.Popen([sys.executable, "-c", "while True: pass"])
    try:
        deadline = time.monotonic() + 0.3
        while time.monotonic() < deadline:
            pass
        mid = tree_cpu_s(me)
    finally:
        child.kill()
        child.wait()
    assert mid - before >= 0.2  # this process's own busy loop
    assert tree_cpu_s(me) >= mid  # the reaped child's CPU stays counted


def test_attribute_jobs_to_innermost_span():
    spans = [
        trace.Span("op", 0, None, 10.0, 20.0),
        trace.Span("operators.build", 0, 0, 10.5, 12.0),
        trace.Span("exec", 0, 0, 12.0, 19.0),
    ]
    jobs = [trace.Job(1, 11.0, [1]), trace.Job(2, 15.0, [2]), trace.Job(3, 25.0, [3])]
    assert trace.attribute_jobs(jobs, spans) == {1: 1, 2: 2}


def test_reduce_event_log(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op1:exec"}},
    ]
    for sid, run, cpu_ns in ((0, 100, 50e6), (0, 300, 150e6), (1, 200, 200e6)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Metrics": {
                "Executor Run Time": run, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
                "Input Metrics": {"Bytes Read": 10}, "Output Metrics": {"Bytes Written": 0},
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 4},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            },
        })
    with open(d / "events_1_app", "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)
    jobs, stages, task_ms = trace.reduce_event_log(str(tmp_path))
    assert [(j.job_id, j.submit, j.stages) for j in jobs] == [(0, 1.0, [0, 1])]
    tot = trace.exec_totals([0], jobs, stages, task_ms)
    assert tot["tasks"] == 3 and tot["stages"] == 2 and tot["jobs"] == 1
    assert tot["task_run_ms"] == 600 and tot["cpu_ms"] == pytest.approx(400)
    assert tot["cpu_to_run_ratio"] == pytest.approx(400 / 600)
    assert tot["shuffle_read_bytes"] == 9 and tot["shuffle_write_bytes"] == 12
    assert tot["max_task_skew"] == pytest.approx(300 / 200)  # only stage 0 has 2 tasks


# ---------------------------------------------------------------- oracle


def test_matches_oracle_aligns_columns_and_tolerates_float_noise():
    spark_rows = [(1, 0.1 + 0.2, "a"), (2, 1.0, "b")]
    duck_rows = [("b", 2, 1.0), ("a", 1, 0.3)]
    assert matches_oracle(spark_rows, ["k", "v", "s"], duck_rows, ["s", "k", "v"])
    assert not matches_oracle(spark_rows, ["k", "v", "s"], [("b", 2, 1.0), ("a", 1, 0.31)], ["s", "k", "v"])
    assert not matches_oracle(spark_rows, ["k", "v", "s"], duck_rows[:1], ["s", "k", "v"])
