"""Seeded inputs for the benchmark, generated here and never by the library.

Everything the library reads arrives as a parquet path.  Outputs are
cached per (generator version, scale, seed) under the work directory, so a
second run with the same seed skips generation; generation always runs
before set-up starts and is never timed.

* TPC-H ``lineitem`` and ``orders`` come from DuckDB's
  bundled ``dbgen`` (deterministic, seed-independent), with money
  columns cast to DOUBLE.
* Append batches are seeded resamples of ``lineitem`` rows that get
  fresh order keys above the base table's maximum, one key range per
  batch, so ``APPEND SCRAMBLE ... WHERE l_orderkey > lo AND
  l_orderkey <= hi`` selects exactly one batch.
* The code-file table is 200 Zipf-sized repos x 7 languages with about
  20% duplicated contents and a Zipf-skewed path vocabulary.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator below changes its output.
GEN_VERSION = 1
SF = 0.05
APPEND_BATCHES = 16
APPEND_ROWS = 8_000
CODE_ROWS = 200_000
CODE_REPOS = 200
LANGS = ["python", "java", "go", "js", "rust", "c", "md"]
_EXT = ["py", "java", "go", "js", "rs", "c", "md"]
_LANG_W = np.array([0.30, 0.20, 0.12, 0.15, 0.08, 0.10, 0.05])
# seeds kept in the cache; older ones are pruned (inputs are ~20 MB/seed)
_KEEP_SEEDS = 12

_TPCH_SQL = {
    "lineitem": """SELECT l_orderkey, l_partkey, l_suppkey,
        CAST(l_linenumber AS INTEGER) AS l_linenumber,
        CAST(l_quantity AS DOUBLE) AS l_quantity,
        CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
        CAST(l_discount AS DOUBLE) AS l_discount,
        CAST(l_tax AS DOUBLE) AS l_tax,
        l_returnflag, l_linestatus, l_shipdate, l_shipmode
        FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "orders": """SELECT o_orderkey, o_custkey, o_orderstatus,
        CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderdate,
        o_orderpriority FROM orders ORDER BY o_orderkey""",
}


def _publish(tmp: str, final: str) -> None:
    """Rename a finished directory into place (concurrent-safe: the
    loser of a race keeps the winner's copy)."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def tpch(cache: str) -> dict:
    """Base TPC-H tables at scale factor ``SF``; returns name -> path."""
    out = os.path.join(cache, f"v{GEN_VERSION}", f"tpch_sf{SF}")
    if not os.path.exists(os.path.join(out, "_done")):
        import duckdb

        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CALL dbgen(sf={SF})")
        for name, sql in _TPCH_SQL.items():
            con.execute(f"COPY ({sql}) TO '{tmp}/{name}.parquet' (FORMAT PARQUET)")
        con.close()
        open(os.path.join(tmp, "_done"), "w").close()
        _publish(tmp, out)
    return {t: os.path.join(out, f"{t}.parquet") for t in _TPCH_SQL}


def _code_files(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 7])
    n = CODE_ROWS
    rid = np.minimum(rng.zipf(1.3, size=n) - 1, CODE_REPOS - 1)
    repo = np.array([f"org{i % 7}/repo{i}" for i in range(CODE_REPOS)], dtype=object)[rid]
    li = rng.choice(len(LANGS), size=n, p=_LANG_W)
    lang = np.array(LANGS, dtype=object)[li]
    # Zipf-skewed path vocabulary: a few paths per language are heavy
    # hitters, the long tail is nearly unique
    pid = np.minimum(rng.zipf(1.6, size=n), 20_000)
    dirs = np.array(["src", "lib", "pkg", "cmd", "test", "docs", "tools"], dtype=object)
    path = (
        dirs[pid % 7] + "/m" + (pid // 7).astype(str).astype(object)
        + "." + np.array(_EXT, dtype=object)[li]
    )
    commit = np.char.mod("%016x", rng.integers(0, 2**62, size=n)).astype(object)
    # contents: a pool of random token bodies, each row tagged with a
    # unique id; about 20% of rows copy an earlier row's content verbatim
    words = np.array(
        "def return import class self for while if else try except with as "
        "lambda yield from raise pass break continue int str list dict set "
        "public static void final new extends func var const let struct impl "
        "trait match enum fn mut pub use mod include define sizeof typedef "
        "switch case default".split(), dtype=object,
    )
    pool_n = 4096
    lens = np.clip(rng.lognormal(3.2, 0.8, size=pool_n).astype(int), 2, 400)
    toks = rng.integers(0, len(words), size=int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    pool = np.array(
        [" ".join(words[toks[bounds[i]:bounds[i + 1]]]) for i in range(pool_n)],
        dtype=object,
    )
    body = pool[rng.integers(0, pool_n, size=n)]
    uid = np.arange(n)
    dup = rng.random(n) < 0.4
    src = rng.integers(0, n, size=n)
    src = np.where(dup & (src < uid), src, uid)
    content = body[src] + "\n# id " + src.astype(str).astype(object)
    return pd.DataFrame(
        {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}
    )


def _append_batches(base_lineitem: str, seed: int) -> tuple[pd.DataFrame, list]:
    """APPEND_BATCHES x APPEND_ROWS resampled lineitem rows with new keys;
    returns (rows, [(lo, hi)] key range per batch, lo exclusive)."""
    t = pq.read_table(base_lineitem)
    n = t.num_rows
    kmax = int(pa.compute.max(t["l_orderkey"]).as_py())
    rng = np.random.default_rng([seed, 11])
    idx = rng.integers(0, n, size=APPEND_BATCHES * APPEND_ROWS)
    df = t.take(pa.array(idx)).to_pandas()
    # keys: 4 rows per new order, batches in increasing disjoint ranges
    per_batch_orders = APPEND_ROWS // 4
    b = np.repeat(np.arange(APPEND_BATCHES), APPEND_ROWS)
    j = np.tile(np.arange(APPEND_ROWS), APPEND_BATCHES)
    df["l_orderkey"] = kmax + 1 + b * per_batch_orders + j // 4
    df["l_linenumber"] = (j % 4 + 1).astype(np.int32)
    ranges = [
        (kmax + i * per_batch_orders, kmax + (i + 1) * per_batch_orders)
        for i in range(APPEND_BATCHES)
    ]
    return df, ranges


def _prune(seeds_dir: str, keep: str) -> None:
    try:
        entries = sorted(
            (os.path.getmtime(os.path.join(seeds_dir, e)), e)
            for e in os.listdir(seeds_dir)
            if e.startswith("seed_") and ".tmp" not in e and os.path.join(seeds_dir, e) != keep
        )
    except OSError:
        return
    for _, e in entries[: max(0, len(entries) - (_KEEP_SEEDS - 1))]:
        shutil.rmtree(os.path.join(seeds_dir, e), ignore_errors=True)


def _cached(cache: str, what: str, seed: int, make) -> str:
    """Directory holding ``what`` for ``seed``, made by ``make(dir)`` once."""
    parent = os.path.join(cache, f"v{GEN_VERSION}", what)
    out = os.path.join(parent, f"seed_{seed}")
    if not os.path.exists(os.path.join(out, "_done")):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        make(tmp)
        open(os.path.join(tmp, "_done"), "w").close()
        _publish(tmp, out)
        _prune(parent, out)
    os.utime(out)
    return out


def code_files(cache: str, seed: int) -> dict:
    """The seeded code-file table."""
    def make(d):
        _code_files(seed).to_parquet(os.path.join(d, "code_files.parquet"), index=False)

    return {"code_files": os.path.join(_cached(cache, "code", seed, make), "code_files.parquet")}


def appends(cache: str, seed: int, base: dict) -> dict:
    """The seeded append batches and their key ranges."""
    def make(d):
        rows, ranges = _append_batches(base["lineitem"], seed)
        rows.to_parquet(os.path.join(d, "appends.parquet"), index=False)
        with open(os.path.join(d, "ranges.json"), "w") as f:
            json.dump(ranges, f)

    out = _cached(cache, f"appends_sf{SF}", seed, make)
    with open(os.path.join(out, "ranges.json")) as f:
        ranges = [tuple(r) for r in json.load(f)]
    return {"appends": os.path.join(out, "appends.parquet"), "append_ranges": ranges}


def for_workload(cache: str, workload: str, seed: int) -> dict:
    """Every input path ``workload`` reads for ``seed``."""
    if workload == "aqp_mixed":
        paths = tpch(cache)
        paths.update(appends(cache, seed, paths))
        return paths
    return code_files(cache, seed)


if __name__ == "__main__":
    # python3 -m perfbench.inputs <cache dir> <workload> <seed>: make (or
    # reuse) the inputs and print their paths as JSON.  The runner calls
    # this in a child process, so generation never counts toward the
    # benchmark process's peak RSS.
    import sys

    print(json.dumps(for_workload(sys.argv[1], sys.argv[2], int(sys.argv[3]))))
