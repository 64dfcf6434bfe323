"""The ``aqp_mixed`` workload: approximate SQL through ``VerdictContext``.

One client sends one op at a time and waits for it (closed loop).  A
cycle of ops is:

* every interactive template once -- a low-cardinality single-table
  aggregate with a composite ratio, a 2-way scramble join, and one
  non-rewritable statement that falls back to exact.
  Each rewritable query runs once through ``stream()`` (time to the
  first estimate) and once through ``sql()``; the fallback runs only
  through ``sql()``, because ``stream()`` refuses it by design;
* one high-cardinality GROUP BY ``l_orderkey`` through
  ``sql(q, early_stop=False)`` into a ``noop`` sink (the Spark estimate
  engine's path);
* one ``APPEND SCRAMBLE`` of a seeded batch of new-key ``lineitem``
  rows into the scramble the queries read.

Query parameters come from the seed; the warm-up draws from another
substream than the timed ops, and no query text repeats, so no result
cache can answer an op.  Truth comes from DuckDB over the same parquet
inputs at the same append state.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import inputs
from .stats import median
from .trace import SparkCounters, spark_layer, tree_cpu_s

# (name, kind, FROM tables, group columns, aggregate aliases, sql)
# kind: approx = stream() + sql(); exact = designed fallback, sql() only;
# bulk = sql(early_stop=False) into a noop sink.  {..} are seeded params;
# the same text runs on Spark and on DuckDB.
# Parameter ranges keep every template's selectivity within a narrow
# band (75-100% of rows), so that a query's cost and its error depend
# little on the seed: "late" dates bound a `<` filter from above,
# "early" dates bound a `>` filter from below.
_LATE = ("1997-06-01", "1998-08-01")
_EARLY = ("1992-01-01", "1992-07-01")
TEMPLATES = [
    ("flag_mode", "approx", ["lineitem"], ["l_returnflag", "l_shipmode"],
     ["sum_qty", "avg_price", "cnt", "price_per_unit"],
     "SELECT l_returnflag, l_shipmode, sum(l_quantity) AS sum_qty, "
     "avg(l_extendedprice) AS avg_price, count(*) AS cnt, "
     "sum(l_extendedprice) / sum(l_quantity) AS price_per_unit FROM lineitem "
     "WHERE l_shipdate <= DATE '{late}' GROUP BY l_returnflag, l_shipmode"),
    ("join2_priority", "approx", ["lineitem", "orders"], ["o_orderpriority"],
     ["cnt", "sum_qty"],
     "SELECT o_orderpriority, count(*) AS cnt, sum(l_quantity) AS sum_qty "
     "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
     "WHERE o_orderdate < DATE '{late}' GROUP BY o_orderpriority"),
    ("lookup_order", "exact", ["lineitem"], ["l_linenumber"],
     ["l_quantity", "l_extendedprice"],
     "SELECT l_linenumber, l_quantity, l_extendedprice FROM lineitem "
     "WHERE l_orderkey = {k} ORDER BY l_linenumber"),
]
BULK = [
    ("hc_orderkey", "bulk", ["lineitem"], ["l_orderkey"], ["sum_qty", "cnt"],
     "SELECT l_orderkey, sum(l_quantity) AS sum_qty, count(*) AS cnt "
     "FROM lineitem WHERE l_shipdate > DATE '{early}' GROUP BY l_orderkey"),
]
# a bulk answer covers the whole scramble, so it must match DuckDB
# exactly: its group count and column sums, observed during the write
REL_TOL = 1e-9
# blocks per scramble: lineitem 8, orders 1 (the join's block plane is
# 8 x 1).  GROUP BY l_orderkey
# projects 230-250k partial rows from its first block, past the
# library's default 200k switch to the Spark estimate engine on every
# seed; the interactive templates project a few hundred and stay below
BLOCKS = {"lineitem": 8, "orders": 1}


def _date(rng: np.random.Generator, span: tuple[str, str]) -> str:
    lo, hi = (np.datetime64(x) for x in span)
    return str(lo + np.timedelta64(int(rng.integers(0, int((hi - lo) / np.timedelta64(1, "D")))), "D"))


def _params(rng: np.random.Generator, used: set, tpl: str, kmax: int) -> str:
    """Fill a template with seeded parameters never used before in the run."""
    while True:
        text = tpl.format(
            late=_date(rng, _LATE),
            early=_date(rng, _EARLY),
            k=int(rng.integers(1, kmax // 4)) * 4 + 1,
        )
        if text not in used:
            used.add(text)
            return text


def _frame(rows) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in rows])


class AqpWorkload:
    def __init__(self, spark, paths: dict, root: str, tracer, trace: bool):
        self.spark = spark
        self.paths = paths
        self.root = root
        self.tracer = tracer
        self.trace = trace
        self.counters = SparkCounters(spark) if trace else None
        self.state = 0  # number of append batches in the scramble
        self.ranges = paths["append_ranges"]
        self.used: set = set()
        self.kmax = self.ranges[0][0]
        self.pending: list[dict] = []  # answers awaiting their truth check
        self.cycle_no = 0  # 0 is the warm-up
        self.ops: list[dict] = []
        self.layer: dict = {}
        self._duck = None

    # ---------------------------------------------------------- set-up
    def _register_lineitem(self) -> None:
        from pyspark.sql import functions as F

        base = self.spark.read.parquet(self.paths["lineitem"])
        if self.state:
            hi = self.ranges[self.state - 1][1]
            extra = self.spark.read.parquet(self.paths["appends"]).where(
                F.col("l_orderkey") <= hi
            )
            base = base.unionByName(extra)
        base.createOrReplaceTempView("lineitem")

    def setup(self) -> None:
        from verdictdb_spark import VerdictContext

        self.spark.read.parquet(self.paths["orders"]).createOrReplaceTempView("orders")
        self._register_lineitem()
        self.table_rows = {
            t: pq.ParquetFile(self.paths[t]).metadata.num_rows for t in ("lineitem", "orders")
        }
        self.ctx = VerdictContext(self.spark, os.path.join(self.root, "main"))
        size = {t: -(-self.table_rows[t] // b) for t, b in BLOCKS.items()}
        ddl = [
            ("ls", f"CREATE SCRAMBLE ls FROM lineitem BLOCKSIZE {size['lineitem']}"),
            ("os", f"CREATE SCRAMBLE os FROM orders BLOCKSIZE {size['orders']}"),
        ]
        create_s = 0.0
        for name, stmt in ddl:
            path = os.path.join(self.ctx.root, name)
            if os.path.exists(path):
                raise RuntimeError(f"scramble {path} exists before CREATE SCRAMBLE")
            t0 = time.monotonic()
            with self.tracer.span("scramble.create", scramble=name):
                status = self.ctx.sql(stmt).collect()[0]["status"]
            create_s += time.monotonic() - t0
            if status != "created":
                raise RuntimeError(f"CREATE SCRAMBLE {name} returned {status!r}")
        if self.trace:
            self.layer["scramble.create_s"] = create_s
            files = nbytes = 0
            for name, _ in ddl:
                for dp, _, fs in os.walk(os.path.join(self.ctx.root, name)):
                    for f in fs:
                        if f.endswith(".parquet"):
                            files += 1
                            nbytes += os.path.getsize(os.path.join(dp, f))
            src = os.path.getsize(self.paths["lineitem"]) + os.path.getsize(self.paths["orders"])
            self.layer["scramble.files"] = files
            self.layer["scramble.bytes_per_input_byte"] = nbytes / src

    # ------------------------------------------------------------- ops
    def _rows(self, tables) -> int:
        return sum(self.table_rows[t] for t in tables)

    def _run(self, kind: str, fn, op_id: int, **info) -> tuple[float, object]:
        floor = self.counters.floor() if self.trace else 0
        with self.tracer.span(kind, op=op_id, **info):
            c0, t0 = tree_cpu_s(), time.monotonic()
            out = fn()
            wall, cpu = time.monotonic() - t0, tree_cpu_s() - c0
        rec = {"kind": kind, "wall": wall, "cpu": cpu, "op": op_id, **info}
        if self.trace:
            rec["spark"] = self.counters.since(floor)
        self.ops.append(rec)
        return wall, out

    def _approx(self, tpl, text: str, op_id: int, timed: bool) -> None:
        name, kind, tables, gcols, aliases, _ = tpl
        if kind == "approx":
            def first():
                it = self.ctx.stream(text)
                try:
                    res = next(it)
                    return res.estimates.copy()
                finally:
                    it.close()
            _, est = self._run("first_answer", first, op_id, template=name, timed=timed)
            self.pending.append({"check": "approx", "frame": est, "sql": text,
                                 "state": self.state, "gcols": gcols, "aliases": aliases,
                                 "template": name, "op": op_id, "cycle": self.cycle_no})
        _, rows = self._run(
            "answer", lambda: self.ctx.sql(text, with_errors=kind != "exact").collect(),
            op_id, template=name, timed=timed, rows=self._rows(tables),
        )
        self.pending.append({
            "check": "exact" if kind == "exact" else "approx",
            "frame": _frame(rows), "sql": text, "state": self.state,
            "gcols": gcols, "aliases": aliases, "template": name, "op": op_id,
            "cycle": self.cycle_no,
        })

    def _bulk(self, tpl, text: str, op_id: int, timed: bool) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        name, _, tables, _, aliases, _ = tpl

        def run():
            # the observation aggregates during the same pass as the write
            obs = Observation()
            self.ctx.sql(text, early_stop=False).observe(
                obs, F.count(F.lit(1)).alias("groups"), *[F.sum(a).alias(a) for a in aliases]
            ).write.format("noop").mode("overwrite").save()
            return obs.get
        _, got = self._run("bulk", run, op_id, template=name, timed=timed, rows=self._rows(tables))
        self.pending.append({
            "check": "fingerprint", "got": got, "sql": text, "state": self.state,
            "aliases": aliases, "template": name, "op": op_id,
        })

    def _append(self, op_id: int, timed: bool) -> None:
        if self.state >= len(self.ranges):
            raise RuntimeError("ran out of seeded append batches")
        lo, hi = self.ranges[self.state]
        self.state += 1
        self._register_lineitem()
        stmt = f"APPEND SCRAMBLE ls WHERE l_orderkey > {lo} AND l_orderkey <= {hi}"
        _, rows = self._run("append", lambda: self.ctx.sql(stmt).collect(), op_id,
                            timed=timed, rows=inputs.APPEND_ROWS)
        n = rows[0]["appended_rows"]
        self.pending.append({"check": "count", "got": n, "want": inputs.APPEND_ROWS,
                             "template": "append", "op": op_id})
        self.table_rows["lineitem"] += inputs.APPEND_ROWS

    def cycle(self, rng, op_base: int, timed: bool) -> int:
        """One pass over the op mix; returns the number of op ids used."""
        op = op_base
        for tpl in TEMPLATES:
            self._approx(tpl, _params(rng, self.used, tpl[5], self.kmax), op, timed)
            op += 1
        for tpl in BULK:
            self._bulk(tpl, _params(rng, self.used, tpl[5], self.kmax), op, timed)
            op += 1
        self._append(op, timed)
        self.cycle_no += 1
        return op + 1 - op_base

    # ----------------------------------------------------------- checks
    def _truth(self, sql: str, state: int) -> pd.DataFrame:
        if self._duck is None:
            import duckdb

            con = duckdb.connect()
            con.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{self.paths['orders']}')")
            con.execute(f"CREATE TABLE lineitem_base AS SELECT * FROM read_parquet('{self.paths['lineitem']}')")
            con.execute(f"CREATE TABLE appends AS SELECT * FROM read_parquet('{self.paths['appends']}')")
            self._duck, self._duck_state = con, None
        if self._duck_state != state:
            hi = self.ranges[state - 1][1] if state else -1
            self._duck.execute(
                "CREATE OR REPLACE VIEW lineitem AS SELECT * FROM lineitem_base "
                f"UNION ALL SELECT * FROM appends WHERE l_orderkey <= {hi}"
            )
            self._duck_state = state
        return self._duck.execute(sql).df()

    def check(self) -> tuple[int, int, list[str], list[float]]:
        """Verify every recorded answer; returns (ops checked, ops failed,
        reasons, relative errors of the approximate answers' cells).

        The cells come from the warm-up and the first timed cycle only,
        which every run completes, so the figure repeats for a seed."""
        failed_ops: set = set()
        reasons: list[str] = []
        cells: list[float] = []

        def fail(p, why):
            failed_ops.add(p["op"])
            reasons.append(f"op {p['op']} {p['template']}: {why}")

        for p in self.pending:
            if p["check"] == "count":
                if p["got"] != p["want"]:
                    fail(p, f"appended {p['got']} rows, expected {p['want']}")
                continue
            if p["check"] == "fingerprint":
                truth = self._truth(p["sql"], p["state"])
                want = {"groups": len(truth), **{a: truth[a].sum() for a in p["aliases"]}}
                for k, w in want.items():
                    g = p["got"][k]
                    if g is None or abs(float(g) - float(w)) > REL_TOL * abs(float(w)):
                        fail(p, f"{k}: {g} differs from truth {w}")
                continue
            fr = p["frame"]
            if p["check"] == "approx":
                for c in [c for c in fr.columns if c.endswith("_err")]:
                    v = fr[c].to_numpy(dtype=float)
                    if not (np.all(np.isfinite(v)) and np.all(v >= 0)):
                        fail(p, f"{c} not finite and non-negative: {v[:4]}")
            truth = self._truth(p["sql"], p["state"])
            gc = p["gcols"]
            if gc and len(fr):
                m = truth.merge(fr, on=gc, how="left", suffixes=("", "_got"))
            else:
                m = truth.copy()
                for a in p["aliases"]:
                    m[a + "_got"] = fr[a].to_numpy() if len(fr) else np.nan
            for a in p["aliases"]:
                want = m[a].to_numpy(dtype=float)
                got = m[a + "_got"].to_numpy(dtype=float)
                with np.errstate(divide="ignore", invalid="ignore"):
                    rel = np.abs(got - want) / np.abs(want)
                rel = np.where(np.isnan(got), 1.0, rel)  # missing group
                rel = np.where((want == 0) & (got == 0), 0.0, rel)
                if p["check"] == "exact":
                    if len(fr) != len(truth) or not np.all(rel <= REL_TOL):
                        bad = int(np.sum(~(rel <= REL_TOL)))
                        fail(p, f"{a}: {bad} of {len(rel)} cells differ from truth "
                                f"({len(fr)} rows vs {len(truth)})")
                elif p["cycle"] <= 1:
                    cells.extend(float(x) if math.isfinite(x) else 1.0 for x in rel)
        return len({p["op"] for p in self.pending}), len(failed_ops), reasons, cells

    # ------------------------------------------------------ trace extras
    def layer_extras(self, rng) -> None:
        """Direct per-layer probes that run after the timed section."""
        from verdictdb_spark.sampling.progressive import converged_result
        from verdictdb_spark.sqlparse import inline_ctes, parse_select

        texts = [o for o in self.used]
        t = []
        for q in texts:
            t0 = time.perf_counter()
            try:
                inline_ctes(q)
                parse_select(q)
            except Exception:
                pass
            t.append((time.perf_counter() - t0) * 1e3)
        self.layer["sqlparse.parse_ms"] = median(t)
        t = []
        for _ in range(50):
            t0 = time.perf_counter()
            self.ctx.metastore.lookup("lineitem", kind="scramble")
            t.append((time.perf_counter() - t0) * 1e3)
        self.layer["metastore.lookup_ms"] = median(t)
        # steps the library's own stop rule needs, and which estimate
        # engine answered, per rewritable template
        steps, spark_eng = [], []
        for tpl in TEMPLATES + BULK:
            name, kind, _, gcols, aliases, sql = tpl
            if kind == "exact":
                continue
            text = _params(rng, self.used, sql, self.kmax)
            it = self.ctx.stream(text)
            prev, n = None, 0
            try:
                for res in it:
                    n += 1
                    spark_eng.append(res.estimates_sdf is not None)
                    if kind == "bulk":
                        break
                    if prev is not None and converged_result(prev, res, gcols, aliases, 0.02, 0.05):
                        break
                    prev = res
            finally:
                it.close()
            if kind != "bulk":
                steps.append(n)
        self.layer["progressive.steps_to_answer"] = median(steps)
        self.layer["progressive.spark_engine_share"] = float(np.mean(spark_eng)) if spark_eng else 0.0

    def layer_metrics(self, first_cycle_ops: set) -> None:
        """Per-layer numbers from the traced ops."""
        timed = [o for o in self.ops if o.get("timed")]
        self.layer.update(spark_layer(timed, first_cycle_ops))
        first = [o for o in timed if o["op"] in first_cycle_ops]
        read = sum(o["spark"]["input_records"] for o in first)
        scr_rows = sum(o.get("rows", 0) for o in first if o["kind"] in ("answer", "bulk"))
        self.layer.update({
            "scan.rows_read_per_scramble_row": read / max(1, scr_rows),
            "scramble.append_s": median(o["wall"] for o in timed if o["kind"] == "append"),
        })
