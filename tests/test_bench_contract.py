"""bench.py output-shape contract (VERDICT r8 #1).

The driver archives only the LAST 2000 characters of bench.py's stdout.
BENCH_r08.json lost every per-query number because the prose ``notes``
dict was emitted after ``queries``/``spread`` and grew past the tail.
These tests pin the fix: measurements last, notes first, and a
realistically-sized queries+spread payload must fit a 2000-char tail.
"""

from __future__ import annotations

import json

import bench
from etl_caltopo_spark.queries import REGISTRY


def _fake_payload():
    headline = [name for name, spec in REGISTRY.items() if spec.headline]
    # worst-case realistic widths: multi-second timings, 3-decimal spread
    times = {n: 12.345 for n in headline}
    spread = {n: [11.111, 12.345, 19.999] for n in headline}
    return times, spread


def _fake_env():
    return {"master": "local[32]", "cores": 32, "shuffle_partitions": 32}


def test_key_order_measurements_last():
    times, spread = _fake_payload()
    line = bench.emit_line(times, spread, 0.1, _fake_env())
    keys = list(json.loads(line).keys())
    assert keys.index("notes") < keys.index("queries") < keys.index("spread")
    # env (r15): the compact effective-runtime block rides AFTER the
    # measurements so the driver's 2000-char tail can verify the core
    # count it set (VERDICT r14 #1) without displacing queries/spread.
    assert keys[-3:] == ["queries", "spread", "env"]
    # json.dumps preserves insertion order, so serialized position
    # matches too — the driver tail sees the raw string:
    assert line.rindex('"env"') > line.rindex('"spread"') > line.rindex('"queries"') > line.index('"notes"')


def test_env_block_bounded_and_informative():
    """env must stay tiny (it shares the 2000-char tail with the
    measurements) and carry the three fields the scaling contract
    needs."""
    env = _fake_env()
    assert set(env) == {"master", "cores", "shuffle_partitions"}
    assert len(json.dumps(env)) < 120


def test_queries_dict_survives_2000_char_tail():
    """The driver's 2000-char tail must contain the COMPLETE queries
    dict (parseable after trimming to the spread suffix) — re-checked
    in r15 after the 4 headline additions AND the trailing env block
    grew the tail payload."""
    times, spread = _fake_payload()
    line = bench.emit_line(times, spread, 0.1, _fake_env())
    tail = line[-2000:]
    start = tail.find('"queries"')
    assert start != -1, "queries dict fell outside the 2000-char tail"
    # extract the {...} that follows "queries":
    obj_start = tail.index("{", start)
    depth, end = 0, None
    for i in range(obj_start, len(tail)):
        if tail[i] == "{":
            depth += 1
        elif tail[i] == "}":
            depth -= 1
            if depth == 0:
                end = i + 1
                break
    assert end is not None, "queries dict truncated by the tail"
    parsed = json.loads(tail[obj_start:end])
    assert set(parsed) == set(times)


def test_notes_stay_bounded():
    """Notes are prose for humans.  With the key-order contract they
    can only evict THEMSELVES from the 2000-char tail (measurements
    and env come after), so the bound is a sanity rail, not a tail
    guarantee — the tail guarantee is test_queries_dict_survives_
    2000_char_tail over the real headline set."""
    assert len(json.dumps(bench.NOTES)) < 1600


def test_measurement_tail_budget():
    """queries + spread + env for the REAL headline set must fit the
    driver's 2000-char archive tail with worst-case numeric widths —
    the binding constraint on how many headline ADDITIONS the set can
    absorb (r15 added 4)."""
    times, spread = _fake_payload()
    line = bench.emit_line(times, spread, 0.1, _fake_env())
    measurements = line[line.rindex('"queries"'):]
    assert len(measurements) < 2000, len(measurements)


def test_default_shuffle_partitions_follow_the_cores(spark, monkeypatch):
    """The shuffle width bench's env block echoes is twice the
    session's defaultParallelism, unless SPARK_GRAFT_SHUFFLE_PARTITIONS
    names it."""
    from etl_caltopo_spark.session import build_spark

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    try:
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "7")
        assert build_spark(app_name="etl-caltopo-spark-tests").conf.get(key) == "7"
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        assert build_spark(app_name="etl-caltopo-spark-tests").conf.get(key) == str(2 * cores)
    finally:
        monkeypatch.undo()
        build_spark(app_name="etl-caltopo-spark-tests")
