"""The ``sketch_codefiles`` workload: grouped mergeable sketches.

Each op builds one sketch over the cached 200k-row code-file table
through the public ``operators`` functions, then collects the merged
answer.  HLL (distinct ``content``), KLL and t-digest (content length)
group by (repo, lang); top-k on ``path`` groups by ``lang`` only; the
Bloom filter on ``path`` is global.  The Python-worker kernels and the
tree merge do the work here; the scramble and SQL layers do none.

Top-k by (repo, lang) is a known failure and is not run: the default
CMS state is 5 x 44,537 int64 (1.78 MB) per group per partition, and
at 1,393 groups the JVM was OOM-killed (see README.md).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from .stats import median
from .trace import SparkCounters, python_worker_cpu_s, spark_layer, tree_cpu_s

KINDS = ["hll", "kll", "tdigest", "topk", "bloom"]
GROUP = ["repo", "lang"]
TOPK_BY = ["lang"]
# a sketch answer passes when its error is within BOUND_MULT x the
# sketch's own error_bound(): HLL's bound is one standard error and the
# quantile bounds are per-query, while one op checks ~4,000 cells
BOUND_MULT = {"hll": 5.0, "kll": 2.0, "tdigest": 2.0}
BLOOM_PROBES = 20_000
# answer_rel_err_p90 counts the cells of groups with at least this many
# rows: below it the Zipf tail's tiny groups (a handful of rows) make
# the figure depend on the seed's draw rather than on the sketches
ERR_MIN_ROWS = 200
KNOWN_FAILURE = (
    "approx_top_k(path) by (repo, lang), 1,393 groups, is not run: the default "
    "CmsSketch holds 5 x 44,537 int64 (1.78 MB) per group per partition and the "
    "JVM was OOM-killed at 7.2 GB anonymous RSS on a 15 GB host"
)


class SketchWorkload:
    def __init__(self, spark, paths: dict, tracer, trace: bool):
        self.spark = spark
        self.paths = paths
        self.tracer = tracer
        self.trace = trace
        self.counters = SparkCounters(spark) if trace else None
        self.ops: list[dict] = []
        self.pending: list[dict] = []
        self.layer: dict = {}
        self.cycle_no = 0  # 0 is the warm-up
        self._bloom_checked: dict = {}

    def setup(self) -> None:
        with self.tracer.span("table.load_cache"):
            self.df = self.spark.read.parquet(self.paths["code_files"]).cache()
            self.nrows = self.df.count()

    # ------------------------------------------------------------- ops
    def _op(self, kind: str, rng) -> object:
        from pyspark.sql import functions as F

        import verdictdb_spark as vs

        df = self.df
        if kind == "hll":
            return vs.approx_count_distinct_by(df, "content", GROUP).collect()
        if kind in ("kll", "tdigest"):
            probs = sorted(round(float(x), 3) for x in rng.uniform(0.2, 0.8, size=3))
            rows = vs.approx_quantiles(
                df, F.length("content"), probs, GROUP, method=kind
            ).collect()
            return probs, rows
        if kind == "topk":
            k = int(rng.integers(8, 13))
            return k, vs.approx_top_k(df, "path", k=k, group_by=TOPK_BY).collect()
        if kind == "bloom":
            return vs.build_bloom(df, "path")
        raise ValueError(kind)

    def cycle(self, rng, op_base: int, timed: bool) -> int:
        for i, kind in enumerate(KINDS):
            op = op_base + i
            floor = self.counters.floor() if self.trace else 0
            cpu0 = python_worker_cpu_s() if self.trace else 0.0
            with self.tracer.span("sketch_op", op=op, kind=kind):
                c0, t0 = tree_cpu_s(), time.monotonic()
                out = self._op(kind, rng)
                wall, cpu = time.monotonic() - t0, tree_cpu_s() - c0
            rec = {"kind": "answer", "sketch": kind, "wall": wall, "cpu": cpu, "op": op,
                   "timed": timed, "rows": self.nrows}
            if self.trace:
                rec["spark"] = self.counters.since(floor)
                rec["python_cpu_s"] = python_worker_cpu_s() - cpu0
            self.ops.append(rec)
            self.pending.append({"kind": kind, "out": out, "op": op, "cycle": self.cycle_no})
        self.cycle_no += 1
        return len(KINDS)

    # ----------------------------------------------------------- checks
    def _truth(self):
        import duckdb

        con = duckdb.connect()
        src = f"read_parquet('{self.paths['code_files']}')"
        ndv = con.execute(
            f"SELECT repo, lang, count(DISTINCT content) AS ndv FROM {src} GROUP BY ALL"
        ).df()
        lens = con.execute(
            f"SELECT repo, lang, list(length(content) ORDER BY length(content)) AS l "
            f"FROM {src} GROUP BY ALL"
        ).df()
        freq = con.execute(
            f"SELECT lang, path, count(*) AS n FROM {src} GROUP BY ALL"
        ).df()
        paths = con.execute(f"SELECT DISTINCT path FROM {src}").df()["path"]
        con.close()
        self.t_ndv = {(r.repo, r.lang): r.ndv for r in ndv.itertuples()}
        self.t_len = {(r.repo, r.lang): np.asarray(r.l, dtype=float) for r in lens.itertuples()}
        self.t_freq = {lang: g.set_index("path")["n"] for lang, g in freq.groupby("lang")}
        self.t_paths = paths

    def _check_bloom(self, sk, state) -> str | None:
        from pyspark.sql import functions as F

        import verdictdb_spark as vs

        key = bytes(state)
        if key in self._bloom_checked:
            return self._bloom_checked[key]
        members = self.spark.createDataFrame(pd.DataFrame({"path": self.t_paths}))
        probes = self.spark.range(BLOOM_PROBES).select(
            F.concat(F.lit("absent/"), F.col("id").cast("string"), F.lit(".none")).alias("path")
        )
        hit = vs.bloom_contains_col(sk, state, "path")
        fn = members.where(~hit).count()
        fp = probes.where(hit).count() / BLOOM_PROBES
        why = None
        if fn:
            why = f"bloom: {fn} false negatives"
        elif fp > 2 * sk.error_bound():
            why = f"bloom: false-positive rate {fp:.4f} > 2 x {sk.error_bound()}"
        self._bloom_checked[key] = why
        return why

    def check(self) -> tuple[int, int, list[str], list[float]]:
        """Verify every sketch answer; returns (ops checked, ops failed,
        reasons, relative errors of the answers' cells).

        The cells come from the warm-up and the first timed cycle only,
        which every run completes, so the figure repeats for a seed."""
        from verdictdb_spark import HllSketch, KllSketch, TDigestSketch

        self._truth()
        failed: set = set()
        reasons: list[str] = []
        cells: list[float] = []
        eb = {
            "hll": HllSketch(p=12).error_bound(),
            "kll": KllSketch(k=256).error_bound(),
            "tdigest": TDigestSketch(compression=200.0).error_bound(),
        }
        for p in self.pending:
            kind, out, errs, why = p["kind"], p["out"], [], None
            if kind == "hll":
                got = {(r["repo"], r["lang"]): r["approx_ndv"] for r in out}
                if set(got) != set(self.t_ndv):
                    why = f"hll: {len(got)} groups, truth has {len(self.t_ndv)}"
                for g, want in self.t_ndv.items():
                    if len(self.t_len[g]) >= ERR_MIN_ROWS:
                        errs.append(abs(got.get(g, 0.0) - want) / want)
                # one register collision among a handful of values moves
                # a tiny group's estimate by one: allow two counts of slack
                bad = [g for g, want in self.t_ndv.items()
                       if abs(got.get(g, 0.0) - want) > BOUND_MULT["hll"] * eb["hll"] * want + 2]
                if bad:
                    why = why or f"hll: {len(bad)} groups outside the bound, e.g. {bad[0]}"
            elif kind in ("kll", "tdigest"):
                probs, rows = out
                if len(rows) != len(self.t_len):
                    why = f"{kind}: {len(rows)} groups, truth has {len(self.t_len)}"
                worst = 0.0
                for r in rows:
                    v = self.t_len[(r["repo"], r["lang"])]
                    n = len(v)
                    for prob, est in zip(probs, r["quantiles"]):
                        lo = np.searchsorted(v, est, "left") / n
                        hi = np.searchsorted(v, est, "right") / n
                        # interpolating between n items moves the rank by
                        # up to 1/n on top of the sketch's own error
                        worst = max(worst, lo - prob - 1.0 / n, prob - hi - 1.0 / n, 0.0)
                        if n >= ERR_MIN_ROWS:
                            exact = np.quantile(v, prob)
                            errs.append(abs(est - exact) / exact)
                if worst > BOUND_MULT[kind] * eb[kind]:
                    why = why or f"{kind}: rank error {worst:.4f}"
            elif kind == "topk":
                k, rows = out
                for lang, truth in self.t_freq.items():
                    got = [r for r in rows if r["lang"] == lang]
                    n_lang = int(truth.sum())
                    slack = 1.0 / (1 << 14) * n_lang  # CMS eps * N
                    kth = np.sort(truth.to_numpy())[::-1][min(k, len(truth)) - 1]
                    if len(got) != min(k, len(truth)):
                        why = f"topk: {lang} returned {len(got)} items"
                    for r in got:
                        t = int(truth.get(r["value"], 0))
                        e = r["est_count"]
                        if not (t <= e <= t + slack) or t < kth - slack:
                            why = f"topk: {lang}/{r['value']} est {e} true {t} kth {kth}"
                        errs.append((e - t) / max(t, 1))
            elif kind == "bloom":
                why = self._check_bloom(*out)
            if why:
                failed.add(p["op"])
                reasons.append(f"op {p['op']} {why}")
            if p["cycle"] <= 1:
                cells.extend(errs)
        return len(self.pending), len(failed), reasons, cells

    # ------------------------------------------------------ trace extras
    def layer_metrics(self, first_cycle_ops: set) -> None:
        timed = [o for o in self.ops if o["timed"]]
        for kind in KINDS:
            self.layer[f"sketch_op.{kind}_s"] = median(o["wall"] for o in timed if o["sketch"] == kind)
        build, rounds, shuffle = [], 0, 0
        first = [o for o in timed if o["op"] in first_cycle_ops]
        for o in timed:
            st = o["spark"]["stage_list"]
            build.append(sum(s["duration_s"] for s in st if s["shuffle_read_bytes"] == 0))
        for o in first:
            st = o["spark"]["stage_list"]
            rounds += sum(1 for s in st if s["shuffle_read_bytes"] > 0)
            shuffle += sum(s["shuffle_read_bytes"] for s in st)
        n = max(1, len(first))
        self.layer.update(spark_layer(timed, first_cycle_ops))
        self.layer.update({
            "sketch_op.build_s": median(build),
            "sketch_op.merge_rounds": rounds / n,
            "sketch_op.merge_shuffle_bytes": shuffle / n,
            "sketch_op.python_cpu_s": median(o["python_cpu_s"] for o in timed),
        })
