"""Correctness checks computed apart from the engine, with DuckDB over
the generated parquet inputs and the stored parquet files.

Every function returns a list of problems; an empty list means the
outputs are correct. Nothing here imports the engine.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from xxh64 import event_epoch

TIERS = (("1m", 60, None), ("1h", 3600, "1m"), ("1d", 86400, "1h"))
STATS = ("n_tok", "tok_sum", "tok_min", "tok_max", "tok_first", "tok_last")
AGGS = ("sum", "count", "min", "max")
Q_SCALE = 1_000_000


def connect(temp_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def _files(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def _count(con, sql: str) -> int:
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def diff(con, got: str, want: str) -> tuple[int, int]:
    """(rows of ``want`` missing from ``got``, extra rows in ``got``),
    as multisets."""
    return (_count(con, f"({want}) EXCEPT ALL ({got})"),
            _count(con, f"({got}) EXCEPT ALL ({want})"))


def load_input(con, seq_paths: list[str]) -> None:
    """Views ``seq_points`` (series_id, ts, value) and ``expected_1m``
    from the input parquet. Event time comes from the numpy XXH64
    port, token statistics from DuckDB list functions."""
    doc_ids = pa.concat_arrays(
        [c for p in seq_paths for c in pq.read_table(p, columns=["doc_id"])
         .column("doc_id").chunks]
    )
    ev = pa.table({"doc_id": doc_ids,
                   "ev": pa.array(event_epoch(doc_ids.to_pylist()), pa.int64())})
    con.register("seq_ev", ev)
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE seq_stats AS
        SELECT s.source, e.ev,
               len(s.tokens)::BIGINT AS n_tok,
               list_sum(s.tokens)::BIGINT AS tok_sum,
               list_min(s.tokens)::BIGINT AS tok_min,
               list_max(s.tokens)::BIGINT AS tok_max,
               s.tokens[1]::BIGINT AS tok_first,
               s.tokens[len(s.tokens)]::BIGINT AS tok_last
        FROM read_parquet({_files(seq_paths)}) s JOIN seq_ev e USING (doc_id)
    """)
    unions = " UNION ALL ".join(
        f"SELECT source || ':{st}' AS series_id, ev AS ts, {st} AS value FROM seq_stats"
        for st in STATS
    )
    con.execute(f"CREATE OR REPLACE TEMP VIEW seq_points AS {unions}")
    con.execute("""
        CREATE OR REPLACE TEMP TABLE expected_1m AS
        SELECT series_id, (ts // 60) * 60 AS w, sum(value)::BIGINT AS sum,
               count(*)::BIGINT AS count, min(value) AS min, max(value) AS max
        FROM seq_points GROUP BY ALL
    """)


def _tier_sql(files: list[str]) -> str:
    return (f"SELECT series_id, epoch_us(window_start) // 1000000 AS w, interval, "
            f"sum, count, min, max FROM read_parquet({_files(files)})")


def check_write_store(con, tables: dict[str, list[str]],
                      decoded: dict[str, pa.Table]) -> list[str]:
    """Checks on the rollup tiers and chunk tables of one store against
    the input loaded by ``load_input``.

    ``tables`` maps table name to the data files of its current
    snapshot; ``decoded`` maps a tier to ``decode_chunks`` of its chunk
    table."""
    problems = []
    for tier, sec, finer in TIERS:
        name = f"rollup_{tier}"
        if not tables.get(name):
            problems.append(f"{name}: missing")
            continue
        t = _tier_sql(tables[name])
        dups = con.execute(f"""
            SELECT series_id, w, count(*) AS c FROM ({t}) GROUP BY ALL
            HAVING c > 1 ORDER BY series_id, w
        """).fetchall()
        if dups:
            ex = ", ".join(f"({s}, {w})" for s, w, _ in dups[:3])
            problems.append(
                f"{name}: {len(dups)} duplicated (series_id, window_start) keys, e.g. {ex}")
        bad = _count(con, f"SELECT * FROM ({t}) WHERE w % {sec} <> 0 OR interval <> '{tier}'")
        if bad:
            problems.append(f"{name}: {bad} rows not aligned to {sec}s or mislabelled")
        totals = _count(con, f"""
            SELECT * FROM (SELECT series_id, sum(value)::BIGINT s, count(*)::BIGINT c,
                                  min(value) mn, max(value) mx
                           FROM seq_points GROUP BY ALL) i
            FULL OUTER JOIN (SELECT series_id, sum(sum)::BIGINT s, sum(count)::BIGINT c,
                                    min(min) mn, max(max) mx
                             FROM ({t}) GROUP BY ALL) o USING (series_id)
            WHERE i.s IS DISTINCT FROM o.s OR i.c IS DISTINCT FROM o.c
               OR i.mn IS DISTINCT FROM o.mn OR i.mx IS DISTINCT FROM o.mx
        """)
        if totals:
            problems.append(f"{name}: {totals} series whose count/sum/min/max totals "
                            "differ from the input")
        cols = "series_id, w, sum, count, min, max"
        if finer is None:
            want = f"SELECT {cols} FROM expected_1m"
            label = "the input's per-minute aggregates"
        else:
            want = (f"SELECT series_id, (w // {sec}) * {sec} AS w, sum(sum)::BIGINT AS sum, "
                    f"sum(count)::BIGINT AS count, min(min) AS min, max(max) AS max "
                    f"FROM ({_tier_sql(tables.get(f'rollup_{finer}', []))}) GROUP BY ALL")
            label = f"a re-aggregation of rollup_{finer}"
        if finer is None or tables.get(f"rollup_{finer}"):
            missing, extra = diff(con, f"SELECT {cols} FROM ({t})", want)
            if missing or extra:
                problems.append(f"{name}: {missing} rows missing and {extra} extra "
                                f"against {label}")
        problems += _check_chunks(con, tier, t, tables.get(f"chunks_{tier}"),
                                  decoded.get(tier))
    return problems


def _check_chunks(con, tier: str, tier_sql: str, files, decoded) -> list[str]:
    name = f"chunks_{tier}"
    if not files:
        return [f"{name}: missing"]
    problems = []
    n, rows = con.execute(f"""
        SELECT (SELECT sum(n) FROM read_parquet({_files(files)})),
               (SELECT count(*) FROM ({tier_sql}))
    """).fetchone()
    if n != 4 * rows:
        problems.append(f"{name}: chunk n sums to {n}, expected 4 x {rows} tier rows")
    if decoded is None:
        return problems + [f"{name}: not decoded"]
    con.register("decoded_chunks", decoded)
    got = ("SELECT series_id, agg, epoch_us(window_start) // 1000000 AS w, value "
           "FROM decoded_chunks")
    want = " UNION ALL ".join(
        f"SELECT series_id, '{a}' AS agg, w, {a} AS value FROM ({tier_sql})" for a in AGGS)
    missing, extra = diff(con, got, want)
    if missing or extra:
        problems.append(f"{name}: decode_chunks has {missing} points missing and "
                        f"{extra} extra against rollup_{tier}")
    con.unregister("decoded_chunks")
    return problems


# ---------------------------------------------------------------- query

def raw_rate_sql(flat: str, start: int, end: int, sec: int) -> str:
    """sys.cpu, env=prod, groupBy host: per-series ``sec`` sums, zero
    fill over the aligned range, sum across series, then the plain
    rate, ppm-floored (the OpenTSDB order of operations)."""
    first_b, last_b = start // sec * sec, (end - 1) // sec * sec
    return f"""
        WITH f AS (SELECT host, host || '|' || cpu AS s, (ts // {sec}) * {sec} AS w, value
                   FROM read_parquet('{flat}')
                   WHERE metric = 'sys.cpu' AND env = 'prod' AND host IS NOT NULL
                     AND ts >= {start} AND ts < {end}),
             ps AS (SELECT host, s, w, sum(value) AS v FROM f GROUP BY ALL),
             spine AS (SELECT d.host, d.s, r.range AS w
                       FROM (SELECT DISTINCT host, s FROM ps) d,
                            range({first_b}, {last_b + 1}, {sec}) r),
             filled AS (SELECT spine.host, spine.w, coalesce(ps.v, 0) AS v
                        FROM spine LEFT JOIN ps USING (host, s, w)),
             g AS (SELECT host, w, sum(v) AS value FROM filled GROUP BY ALL),
             r AS (SELECT host, w,
                          value - lag(value) OVER (PARTITION BY host ORDER BY w) AS d,
                          w - lag(w) OVER (PARTITION BY host ORDER BY w) AS dt
                   FROM g)
        SELECT host, w AS w_start,
               floor((d::DOUBLE / dt::DOUBLE) * {Q_SCALE})::BIGINT AS value
        FROM r WHERE d IS NOT NULL
    """


def hist_sql(flat: str, start: int, end: int, sec: int, permilles) -> str:
    """sys.cpu, groupBy host: per (host, ``sec`` bucket) power-of-two
    histogram; each permille's smallest bucket whose cumulative count
    reaches ceil(total * permille / 1000)."""
    pms = ", ".join(f"({int(p)})" for p in permilles)
    return f"""
        WITH f AS (SELECT host, (ts // {sec}) * {sec} AS w,
                          CASE WHEN value = 0 THEN 0 WHEN value > 0 THEN length(bin(value))
                               ELSE -1 END AS b
                   FROM read_parquet('{flat}')
                   WHERE metric = 'sys.cpu' AND host IS NOT NULL
                     AND ts >= {start} AND ts < {end}),
             h AS (SELECT host, w, b, count(*) AS n FROM f GROUP BY ALL),
             c AS (SELECT host, w, b,
                          sum(n) OVER (PARTITION BY host, w ORDER BY b
                                       ROWS UNBOUNDED PRECEDING) AS cum,
                          sum(n) OVER (PARTITION BY host, w) AS total
                   FROM h),
             p AS (SELECT * FROM c, (VALUES {pms}) q(pm)),
             sel AS (SELECT host, w, pm, min(b) AS b, min(total) AS total FROM p
                     WHERE cum >= (total * pm + 999) // 1000 GROUP BY ALL)
        SELECT host, w AS w_start, pm AS permille, b AS bucket,
               CASE WHEN b < 0 THEN -1 WHEN b = 0 THEN 0
                    ELSE (1::BIGINT << b) - 1 END AS est_max,
               total::BIGINT AS total
        FROM sel
    """


def rollup_read_sql(files_1m: list[str], sec: int) -> str:
    """``sec`` re-aggregation of the stored 1m tier, zero-filled over
    each series' own window range, with the derived average."""
    return f"""
        WITH r AS (SELECT series_id, (epoch_us(window_start) // 1000000 // {sec}) * {sec} AS w,
                          sum(sum) AS s, sum(count) AS c, min(min) AS mn, max(max) AS mx
                   FROM read_parquet({_files(files_1m)}) GROUP BY ALL),
             b AS (SELECT series_id, min(w) AS w0, max(w) AS w1 FROM r GROUP BY ALL),
             spine AS (SELECT series_id, unnest(range(w0, w1 + 1, {sec})) AS w FROM b)
        SELECT spine.series_id, spine.w, '{sec}s' AS interval,
               coalesce(s, 0)::BIGINT AS sum, coalesce(c, 0)::BIGINT AS count,
               coalesce(mn, 0)::BIGINT AS min, coalesce(mx, 0)::BIGINT AS max,
               CASE WHEN c > 0 THEN s::DOUBLE / c::DOUBLE END AS avg
        FROM spine LEFT JOIN r USING (series_id, w)
    """


def chunk_read_sql(files_1m: list[str], t0: int, t1: int) -> str:
    """The stored 1m tier in [t0, t1), one row per (series, agg, window)."""
    base = (f"SELECT series_id, epoch_us(window_start) // 1000000 AS w, sum, count, min, max "
            f"FROM read_parquet({_files(files_1m)})")
    return " UNION ALL ".join(
        f"SELECT series_id, '1m' AS interval, '{a}' AS agg, w, {a} AS value "
        f"FROM ({base}) WHERE w >= {t0} AND w < {t1}" for a in AGGS)


#: how each query class's collected Arrow result is projected for comparison
RESULT_SQL = {
    "raw": "SELECT host, w_start, value FROM {t}",
    "tier": "SELECT host, w_start, value FROM {t}",
    "pct": "SELECT host, w_start, permille, bucket, est_max, total FROM {t}",
    "rollup_read": ("SELECT series_id, epoch_us(window_start) // 1000000 AS w, interval, "
                    "sum, count, min, max, avg FROM {t}"),
    "chunk_read": ("SELECT series_id, interval, agg, epoch_us(window_start) // 1000000 AS w, "
                   "value FROM {t}"),
}


def check_result(con, cls: str, result: pa.Table, want_table: str) -> list[str]:
    """Compare one collected query result with a materialized expectation."""
    con.register("query_result", result)
    try:
        missing, extra = diff(con, RESULT_SQL[cls].format(t="query_result"),
                              f"SELECT * FROM {want_table}")
    finally:
        con.unregister("query_result")
    if missing or extra:
        return [f"{cls}: {missing} rows missing and {extra} extra against the "
                "independent computation"]
    return []


def count_rows(con, files: list[str]) -> int:
    return con.execute(f"SELECT count(*) FROM read_parquet({_files(files)})").fetchone()[0]


def chunk_stats(con, chunk_files: list[str]) -> tuple[int, int, int]:
    """(chunks, points, encoded bytes) over chunk-table files."""
    if not chunk_files:
        return 0, 0, 0
    r = con.execute(f"SELECT count(*), sum(n), sum(enc_bytes) "
                    f"FROM read_parquet({_files(chunk_files)})").fetchone()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def decoded_points_in(con, chunk_files: list[str], t0: int, t1: int) -> int:
    """Points ``pruned_read`` decodes: whole 1m chunks overlapping [t0, t1)."""
    span = 60 * 4096
    return int(con.execute(f"""
        SELECT coalesce(sum(n), 0) FROM read_parquet({_files(chunk_files)})
        WHERE epoch_us(chunk_start) // 1000000 < {t1}
          AND epoch_us(chunk_start) // 1000000 + {span} > {t0}
    """).fetchone()[0])

