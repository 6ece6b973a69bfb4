"""Tests for the benchmark's own checker.

    python3 -m pytest perfbench/test_checks.py -q

The write-side checks run on a store synthesized from the checker's
own expectation, so they need no engine run: the correct store must
pass, and an injected duplicate window, an off-by-one value and a
dropped chunk must each be rejected.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import xxh64  # noqa: E402

SAMPLE = ["", "a", "abcd", "abcdefghijk", "s7-000000123", "doc-000000000001",
          "x" * 31, "y" * 32, "z" * 33, "q" * 70, "é漢字" * 7]


def test_xxh64_matches_spark():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[1]").appName("perfbench-xxh64")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        ids = SAMPLE + [f"s3-{i:09d}" for i in range(200)]
        df = spark.createDataFrame([(s,) for s in ids], "d string")
        want = [r[0] for r in df.select(F.xxhash64("d")).collect()]
    finally:
        spark.stop()
    assert xxh64.xxhash64(ids).tolist() == want


def _store(con, tmp_path, seq_path):
    """A correct store (tier tables, chunk tables, decoded chunks) built
    from the checker's expectation."""
    checks.load_input(con, [seq_path])
    con.execute("CREATE TABLE t_1m AS SELECT series_id, w, sum, count, min, max "
                "FROM expected_1m")
    for tier, sec, finer in checks.TIERS[1:]:
        con.execute(f"""CREATE TABLE t_{tier} AS
            SELECT series_id, (w // {sec}) * {sec} AS w, sum(sum)::BIGINT AS sum,
                   sum(count)::BIGINT AS count, min(min) AS min, max(max) AS max
            FROM t_{finer} GROUP BY ALL""")
    tables, decoded = {}, {}
    for tier, _, _ in checks.TIERS:
        for kind, sql in (
            ("rollup", f"SELECT series_id, to_timestamp(w) AS window_start, "
                       f"'{tier}' AS interval, sum, count, min, max FROM t_{tier}"),
            ("chunks", f"SELECT series_id, '{tier}' AS interval, a.agg, count(*) AS n "
                       f"FROM t_{tier}, (VALUES ('sum'), ('count'), ('min'), ('max')) a(agg) "
                       f"GROUP BY ALL"),
        ):
            path = str(tmp_path / f"{kind}_{tier}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
            tables[f"{kind}_{tier}"] = [path]
        decoded[tier] = con.execute(" UNION ALL ".join(
            f"SELECT series_id, '{tier}' AS interval, '{a}' AS agg, "
            f"to_timestamp(w) AS window_start, {a} AS value FROM t_{tier}"
            for a in checks.AGGS)).arrow()
    return tables, decoded


@pytest.fixture()
def store(tmp_path):
    seq_path = str(tmp_path / "sequences.parquet")
    pq.write_table(gen.sequences_table(seed=5, n=400), seq_path)
    con = checks.connect(str(tmp_path / "duck"), 2)
    tables, decoded = _store(con, tmp_path, seq_path)
    yield con, tables, decoded, tmp_path
    con.close()


def _rewrite(con, tmp_path, path, sql):
    out = str(tmp_path / ("faulty_" + os.path.basename(path)))
    con.execute(f"COPY ({sql.format(t=f'read_parquet({chr(39)}{path}{chr(39)})')}) "
                f"TO '{out}' (FORMAT parquet)")
    return [out]


def test_correct_store_passes(store):
    con, tables, decoded, _ = store
    assert checks.check_write_store(con, tables, decoded) == []


def test_duplicate_window_rejected(store):
    con, tables, decoded, tmp_path = store
    tables["rollup_1m"] = _rewrite(con, tmp_path, tables["rollup_1m"][0],
                                   "SELECT * FROM {t} UNION ALL (SELECT * FROM {t} LIMIT 1)")
    problems = checks.check_write_store(con, tables, decoded)
    assert any("rollup_1m: 1 duplicated (series_id, window_start) keys" in p
               for p in problems), problems


def test_off_by_one_value_rejected(store):
    con, tables, decoded, tmp_path = store
    tables["rollup_1h"] = _rewrite(
        con, tmp_path, tables["rollup_1h"][0],
        "SELECT series_id, window_start, interval, "
        "CASE WHEN row_number() OVER (ORDER BY series_id, window_start) = 1 "
        "THEN sum + 1 ELSE sum END AS sum, count, min, max FROM {t}")
    problems = checks.check_write_store(con, tables, decoded)
    assert any(p.startswith("rollup_1h: 1 rows missing and 1 extra") for p in problems), problems
    assert any("rollup_1h: 1 series whose count/sum/min/max totals" in p
               for p in problems), problems


def test_dropped_chunk_rejected(store):
    con, tables, decoded, tmp_path = store
    tables["chunks_1d"] = _rewrite(con, tmp_path, tables["chunks_1d"][0],
                                   "SELECT * FROM {t} ORDER BY series_id, agg OFFSET 1")
    problems = checks.check_write_store(con, tables, decoded)
    assert any(p.startswith("chunks_1d: chunk n sums to") for p in problems), problems


def test_decoded_point_mismatch_rejected(store):
    con, tables, decoded, _ = store
    decoded["1m"] = decoded["1m"].slice(1)
    problems = checks.check_write_store(con, tables, decoded)
    assert any(p.startswith("chunks_1m: decode_chunks has 1 points missing") for p in problems)
