"""Seeded benchmark inputs, written as parquet and cached per seed and size.

The program never sees a seed: it reads the parquet files this module
writes. Generation time is outside every measurement.

* ``sequences`` -- the engine's input table ``(doc_id string, tokens
  array<int32>, n_tok int32, source string)``: 1-512 tokens per
  sequence drawn from a 50,257-token vocabulary, sources ``web`` /
  ``code`` / ``books`` / ``wiki`` at 70/15/10/5 (the hot-key skew the
  salted aggregation exists for). ``doc_id`` is ``s<seed>-<index>``,
  so each seed also moves every event time.
* ``points`` -- a tagged point table in the documented
  ``metric, ts, value, tags map<string,string>`` form: ``sys.cpu``
  (host x cpu series, tags host/env/dc/cpu) and ``sys.mem`` (one series
  per host), over 30 days from 2024-01-01, with one hot host (``h000``)
  emitting 20x the points of the others. A flat copy with one column per
  tag (``points_flat``) feeds the checker, never the program.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MAX_TOKENS = 512
SOURCES = ("web", "code", "books", "wiki")
SOURCE_WEIGHTS = (0.70, 0.15, 0.10, 0.05)

T0 = 1704067200  # 2024-01-01T00:00:00Z
HORIZON = 30 * 86400
HOSTS = 30
CPUS = 5
HOT_HOST_WEIGHT = 20.0
ENVS = ("prod", "stage", "dev")
ENV_WEIGHTS = (0.6, 0.25, 0.15)
DCS = ("dc1", "dc2", "dc3", "dc4")
KEEP_CACHE_ENTRIES = 6
ROW_GROUP_BYTES = 8 << 20


def sequences_table(seed: int, n: int, start: int = 0) -> pa.Table:
    """``n`` sequences with doc indexes ``start..start+n-1``."""
    rng = np.random.default_rng([seed, start, n])
    n_tok = rng.integers(1, MAX_TOKENS + 1, size=n, dtype=np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    src = rng.choice(len(SOURCES), size=n, p=SOURCE_WEIGHTS)
    doc_ids = [f"s{seed}-{i:09d}" for i in range(start, start + n)]
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
            "n_tok": pa.array(n_tok, pa.int32()),
            "source": pa.array(np.asarray(SOURCES, dtype=object)[src], pa.string()),
        }
    )


def points_tables(seed: int, n_points: int) -> tuple[pa.Table, pa.Table]:
    """(map-form point table for the program, flat copy for the checker)."""
    rng = np.random.default_rng([seed, n_points, 7])
    host_env = rng.choice(len(ENVS), size=HOSTS, p=ENV_WEIGHTS)
    host_env[0] = 0  # the hot host is a prod host
    host_dc = rng.integers(0, len(DCS), size=HOSTS)
    # series: sys.cpu for every (host, cpu), sys.mem for every host
    cpu_host = np.repeat(np.arange(HOSTS), CPUS)
    cpu_cpu = np.tile(np.arange(CPUS), HOSTS)
    s_metric = np.concatenate([np.zeros(HOSTS * CPUS, np.int8), np.ones(HOSTS, np.int8)])
    s_host = np.concatenate([cpu_host, np.arange(HOSTS)])
    s_cpu = np.concatenate([cpu_cpu, np.full(HOSTS, -1)])
    weight = np.where(s_host == 0, HOT_HOST_WEIGHT, 1.0)
    weight = np.where(s_metric == 1, weight * 0.5, weight)
    counts = rng.multinomial(n_points, weight / weight.sum())
    series = np.repeat(np.arange(len(weight)), counts)
    ts = T0 + rng.integers(0, HORIZON, size=n_points)
    metric = s_metric[series]
    value = np.where(
        metric == 0,
        rng.integers(0, 100_000, size=n_points),
        rng.integers(1 << 20, 1 << 34, size=n_points),
    ).astype(np.int64)
    host = s_host[series]
    cpu = s_cpu[series]

    host_names = np.array([f"h{h:03d}" for h in range(HOSTS)], dtype=object)
    metric_names = np.array(["sys.cpu", "sys.mem"], dtype=object)
    env_names = np.asarray(ENVS, dtype=object)[host_env]
    dc_names = np.asarray(DCS, dtype=object)[host_dc]
    f_metric = metric_names[metric]
    f_host = host_names[host]
    f_env = env_names[host]
    f_dc = dc_names[host]
    f_cpu = np.where(cpu >= 0, cpu.astype(str).astype(object), None)
    ts_arr = pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC"))

    has_cpu = cpu >= 0
    n_keys = np.where(has_cpu, 4, 3)
    offsets = np.zeros(n_points + 1, dtype=np.int32)
    np.cumsum(n_keys, out=offsets[1:])
    keys = np.empty(int(offsets[-1]), dtype=object)
    vals = np.empty(int(offsets[-1]), dtype=object)
    o = offsets[:-1]
    for j, (k, col) in enumerate((("host", f_host), ("env", f_env), ("dc", f_dc))):
        keys[o + j] = k
        vals[o + j] = col
    keys[o[has_cpu] + 3] = "cpu"
    vals[o[has_cpu] + 3] = f_cpu[has_cpu]
    tags = pa.MapArray.from_arrays(
        pa.array(offsets), pa.array(keys, pa.string()), pa.array(vals, pa.string())
    )
    program = pa.table(
        {
            "metric": pa.array(f_metric, pa.string()),
            "ts": ts_arr,
            "value": pa.array(value, pa.int64()),
            "tags": tags,
        }
    )
    flat = pa.table(
        {
            "metric": pa.array(f_metric, pa.string()),
            "ts": pa.array(ts, pa.int64()),
            "value": pa.array(value, pa.int64()),
            "host": pa.array(f_host, pa.string()),
            "env": pa.array(f_env, pa.string()),
            "dc": pa.array(f_dc, pa.string()),
            "cpu": pa.array(f_cpu, pa.string()),
        }
    )
    return program, flat


class InputCache:
    """Parquet inputs under ``root``, keyed by name; the newest
    ``KEEP_CACHE_ENTRIES`` entries are kept."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def get(self, key: str, build) -> dict[str, str]:
        """Paths of the entry's files; ``build()`` returns
        ``{name: pa.Table}`` and runs only on a miss."""
        d = os.path.join(self.root, key)
        done = os.path.join(d, "_done")
        if not os.path.exists(done):
            shutil.rmtree(d, ignore_errors=True)
            tmp = f"{d}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            for name, table in build().items():
                # ~8 MB row groups: Spark splits a parquet file only at
                # row groups, so this lets the store append run in
                # parallel tasks
                rows = max(1024, int(table.num_rows * ROW_GROUP_BYTES / max(1, table.nbytes)))
                pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                               row_group_size=rows)
            open(os.path.join(tmp, "_done"), "w").close()
            os.replace(tmp, d)
            self._prune(keep=key)
        os.utime(done)
        return {
            f[: -len(".parquet")]: os.path.join(d, f)
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }

    def _prune(self, keep: str) -> None:
        entries = []
        for name in os.listdir(self.root):
            done = os.path.join(self.root, name, "_done")
            if name != keep and os.path.exists(done):
                entries.append((os.path.getmtime(done), name))
        for _, name in sorted(entries)[: max(0, len(entries) + 1 - KEEP_CACHE_ENTRIES)]:
            shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

