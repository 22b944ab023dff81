"""The benchmark's workloads: what one pass runs, the checks of its
outputs against the generator's ground truth, and the per-layer fold
of its spans.

A pass is timed from its first call into the program to the return of
its last action. Checks run after that, on outputs already collected
to the driver with numpy and pyarrow, so they start no Spark job.
"""

from __future__ import annotations

import datetime
import os
import shutil
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import EventLog, Tracer, median_of, union_s

PANEL_SCHEMA = ("permno bigint, date date, ret double, mkt double, "
                "prc double, size double, ind int")
FUND_SCHEMA = "permno bigint, fdate date, be double"
DOC_SCHEMA = "doc_id bigint, text string"

ROLL_N = 60           # rolling_beta window
CUM_TIME = [21, 63]   # cumulate breakpoints: windows [0], (0, 42], (42, ...)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _close(a, b, rtol: float) -> bool:
    return np.allclose(a, b, rtol=rtol, atol=1e-12, equal_nan=True)


def _op_layer_metrics(tracer: Tracer, log: EventLog, op, layer: str) -> dict:
    """call/action split of one op span: wall time, and the Spark jobs
    each started (the "lazy" call may already run jobs)."""
    call = tracer.children(op, "call")[0]
    act = tracer.children(op, "action")[0]
    call_jobs, act_jobs = log.in_group(call.group), log.in_group(act.group)
    key = f"{layer}.{op.name}"
    return {
        f"{key}.call_s": call.dur,
        f"{key}.call_jobs": len(call_jobs),
        f"{key}.exec_s": act.dur,
        f"{key}.jobs": len(act_jobs),
        f"{key}.shuffle_mb": sum(j.shuffle_write for j in call_jobs + act_jobs) / 2**20,
    }


def _timed_op(tracer: Tracer, tag: str, name: str, build):
    """Run one op: ``build()`` is the public call (lazy, returns a
    DataFrame), ``toArrow()`` the action. Returns the collected table, or
    the exception the op raised."""
    with tracer.span(name):
        try:
            with tracer.span("call", f"{tag}:{name}:call"):
                df = build()
            with tracer.span("action", f"{tag}:{name}:action"):
                return df.toArrow()
        except Exception as e:  # an op failure is counted, not fatal
            return e


# ---------------------------------------------------------------- panel


class Panel:
    """CRSP-like firm x day panel: the paper's research chain, one
    operator after another on the same inputs."""

    name = "panel"
    layer = "operators"
    OPS = ("groupby_merge", "winsorize", "left_merge_latest", "portfolio",
           "cumulate", "reg_by", "rolling_beta", "fillna_by_groups",
           "drawdown")

    def __init__(self, tiny: bool, cpus: int):
        self.n_firms, self.n_days = (20, 80) if tiny else (200, 250)
        self.cpus = cpus
        self.data: gen.Panel | None = None
        self._truth: dict | None = None

    def generate(self, seed: int, out_dir: str) -> None:
        self.data = gen.make_panel(seed, self.n_firms, self.n_days, out_dir, self.cpus)
        self._truth = None

    def run_pass(self, spark, tracer: Tracer, tag: str, work: str):
        import pd_utils_spark as pus

        d = self.data
        builds = {
            "groupby_merge": lambda: pus.groupby_merge(p, "date", "mean", subset="ret"),
            "winsorize": lambda: pus.winsorize(p, 0.01, subset="ret", byvars="date"),
            "left_merge_latest": lambda: pus.left_merge_latest(
                p, f, on="permno", left_datevar="date", right_datevar="fdate"),
            "portfolio": lambda: pus.portfolio(p, "size", ngroups=10, byvars="date"),
            "cumulate": lambda: pus.cumulate(
                p.select("permno", "date", "ret"), "ret", "between",
                periodvar="date", byvars="permno", time=CUM_TIME, grossify=True),
            "reg_by": lambda: pus.reg_by(p, "ret", "mkt", "permno"),
            "rolling_beta": lambda: pus.rolling_beta(
                p, "ret", "mkt", ROLL_N, "date", "permno", out="beta"),
            "fillna_by_groups": lambda: pus.fillna_by_groups(
                p.select("permno", "date", "size"), "permno", num_vars="mean",
                ordervar="date"),
            "drawdown": lambda: pus.drawdown(p, "prc", "date", "permno"),
        }
        outputs = {}
        with tracer.span("pass") as ps:
            p = spark.read.schema(PANEL_SCHEMA).parquet(d.panel_path)
            f = spark.read.schema(FUND_SCHEMA).parquet(d.fund_path)
            for name in self.OPS:
                outputs[name] = _timed_op(tracer, tag, name, builds[name])
        return ps, outputs

    # ground truth, from the generator's arrays (firm-major order)

    def truth(self) -> dict:
        if self._truth is None:
            d = self.data
            F, D = d.n_firms, d.n_days
            ret = d.ret.reshape(F, D)
            mkt = d.mkt.reshape(F, D)[0]
            top = np.minimum(ret, np.percentile(ret, 99, axis=0))
            wins = np.maximum(top, np.percentile(top, 1, axis=0))
            gross = 1.0 + ret
            cum = np.empty_like(ret)
            cut = CUM_TIME[1] - CUM_TIME[0] + 1
            cum[:, :1] = gross[:, :1]
            cum[:, 1:cut] = np.cumprod(gross[:, 1:cut], axis=1)
            cum[:, cut:] = np.cumprod(gross[:, cut:], axis=1)
            xm = mkt - mkt.mean()
            slope = ((ret - ret.mean(1, keepdims=True)) * xm).sum(1) / (xm * xm).sum()
            xw = mkt[-ROLL_N:] - mkt[-ROLL_N:].mean()
            yw = ret[:, -ROLL_N:] - ret[:, -ROLL_N:].mean(1, keepdims=True)
            last_beta = (yw * xw).sum(1) / (xw * xw).sum()
            size = d.size.reshape(F, D)
            fill = np.where(np.isnan(size), np.nanmean(size, 1, keepdims=True), size)
            prc = d.prc.reshape(F, D)
            dd = (prc / np.maximum.accumulate(prc, axis=1) - 1.0).min(1)
            # as-of: latest report on or before each day, per firm
            fday = d.fund_day.reshape(F, -1)
            fbe = d.fund_be.reshape(F, -1)
            days = d.day[:D]
            idx = np.stack([np.searchsorted(fday[i], days, side="right") - 1
                            for i in range(F)])
            be = np.where(idx >= 0, np.take_along_axis(fbe, np.maximum(idx, 0), 1), np.nan)
            self._truth = dict(
                n=F * D, F=F, D=D, ret_mean=np.tile(ret.mean(0), F),
                wins=wins.ravel(), cum=(cum - 1.0).ravel(), slope=slope,
                last_beta=last_beta, fill=fill.ravel(), dd=dd,
                be=be.ravel(), size_null=np.isnan(d.size),
            )
        return self._truth

    def check(self, outputs: dict, corrupt: bool) -> list[tuple[str, str | None]]:
        t = self.truth()
        results = []
        for name in self.OPS:
            out = outputs[name]
            if isinstance(out, Exception):
                results.append((name, f"raised {type(out).__name__}: {out}"))
                continue
            if corrupt:
                out = out.slice(0, out.num_rows - 1)
            expect_rows = t["F"] if name == "reg_by" else t["n"]
            if out.num_rows != expect_rows:
                results.append((name, f"{out.num_rows} rows, expected {expect_rows}"))
                continue
            if name != "reg_by":
                out = out.sort_by([("permno", "ascending"), ("date", "ascending")])
            results.append((name, getattr(self, f"_check_{name}")(out, t)))
        return results

    @staticmethod
    def _col(out: pa.Table, name: str) -> np.ndarray:
        return out.column(name).to_numpy(zero_copy_only=False).astype(float)

    def _check_groupby_merge(self, out, t):
        if not _close(self._col(out, "ret_mean"), t["ret_mean"], 1e-9):
            return "ret_mean differs from the per-date mean"

    def _check_winsorize(self, out, t):
        if not _close(self._col(out, "ret"), t["wins"], 1e-9):
            return "clipped ret differs from numpy percentiles"

    def _check_left_merge_latest(self, out, t):
        be = self._col(out, "be")
        want = int((~np.isnan(t["be"])).sum())
        got = int((~np.isnan(be)).sum())
        if got != want:
            return f"{got} as-of matches, expected {want}"
        if not _close(be, t["be"], 1e-12):
            return "matched payload is not the latest report"

    def _check_portfolio(self, out, t):
        port = out.column("portfolio").to_numpy(zero_copy_only=False).astype(int)
        null = t["size_null"]
        if (port[null] != 0).any() or not ((port[~null] >= 1) & (port[~null] <= 10)).all():
            return "portfolio outside 0 for nulls / 1..10 otherwise"
        for day_ports in port.reshape(t["F"], t["D"]).T:
            c = np.bincount(day_ports[day_ports > 0], minlength=11)[1:]
            if c.max() - c.min() > 1:
                return f"unbalanced buckets on a date: {c.tolist()}"

    def _check_cumulate(self, out, t):
        if not _close(self._col(out, "cum_ret"), t["cum"], 1e-9):
            return "cum_ret differs from the numpy cumulative product"

    def _check_reg_by(self, out, t):
        out = out.sort_by("permno")
        if not _close(self._col(out, "coef_mkt"), t["slope"], 1e-6):
            return "coef_mkt differs from numpy OLS"

    def _check_rolling_beta(self, out, t):
        beta = self._col(out, "beta").reshape(t["F"], t["D"])
        want = t["F"] * (t["D"] - ROLL_N + 1)
        if int((~np.isnan(beta)).sum()) != want:
            return f"{int((~np.isnan(beta)).sum())} betas, expected {want}"
        if not _close(beta[:, -1], t["last_beta"], 1e-6):
            return "last rolling beta differs from numpy OLS"

    def _check_fillna_by_groups(self, out, t):
        if not _close(self._col(out, "size"), t["fill"], 1e-9):
            return "filled size differs from the firm mean"

    def _check_drawdown(self, out, t):
        dd = self._col(out, "drawdown").reshape(t["F"], t["D"]).min(1)
        if not _close(dd, t["dd"], 1e-9):
            return "max drawdown differs from numpy"

    def layer_metrics(self, tracer: Tracer, log: EventLog, passes: list) -> dict:
        return median_of([
            {k: v for op in tracer.children(p)
             for k, v in _op_layer_metrics(tracer, log, op, self.layer).items()}
            for p in passes
        ])

    def run_metrics(self, passes_out: list) -> dict:
        return {}


# --------------------------------------------------------------- ingest


def _progress_start(p) -> float:
    ts = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp()


class Ingest:
    """Ordered micro-batch files drained by ``streaming_minhash_dedup``
    into fresh state, then the ``exact_dedup``-on-id finishing step the
    gate's at-least-once output calls for."""

    name = "ingest"
    GATE = "streaming_minhash_dedup"
    FINISH = "exact_dedup"
    PHASES = ("addBatch", "queryPlanning", "walCommit")

    def __init__(self, tiny: bool, cpus: int):
        self.n_batches, self.batch_docs = (2, 20) if tiny else (2, 100)
        self.data: gen.Ingest | None = None

    def generate(self, seed: int, out_dir: str) -> None:
        self.data = gen.make_ingest(seed, self.n_batches, self.batch_docs, out_dir)

    def run_pass(self, spark, tracer: Tracer, tag: str, work: str):
        from pd_utils_spark.extensions.dedup import exact_dedup
        from pd_utils_spark.streaming.stateful import streaming_minhash_dedup

        out, hist, ckpt = (os.path.join(work, x) for x in ("out", "hist", "ckpt"))
        res = {"progress": [], "output": None, "error": None}
        with tracer.span("pass") as ps:
            with tracer.span(self.GATE) as gate:
                try:
                    with tracer.span("call", f"{tag}:{self.GATE}:call"):
                        sdf = (spark.readStream.schema(DOC_SCHEMA)
                               .option("maxFilesPerTrigger", 1)
                               .parquet(self.data.path))
                        q = streaming_minhash_dedup(
                            sdf, out, hist, ckpt, k=3, num_hashes=12, bands=6,
                            threshold=0.8, available_now=True)
                    with tracer.span("action", f"{tag}:{self.GATE}:action"):
                        q.awaitTermination()
                except Exception as e:  # counted as a failed pass
                    res["error"] = e
            if res["error"] is None:
                res["progress"] = [p for p in q.recentProgress if p["numInputRows"] > 0]
                res["output"] = _timed_op(
                    tracer, tag, self.FINISH,
                    lambda: exact_dedup(spark.read.schema(DOC_SCHEMA).parquet(out),
                                        textcol="doc_id", normalize=False))
        for p in res["progress"]:
            start = _progress_start(p)
            tracer.add("batch", gate, start, start + p["durationMs"]["triggerExecution"] / 1e3)
        state = _dir_bytes(hist) + _dir_bytes(ckpt)
        res["state_mb"] = state / 2**20
        res["stored_ratio"] = (state + _dir_bytes(out)) / self.data.input_bytes
        res["raw_ids"] = (pq.read_table(out, columns=["doc_id"]).column(0)
                          .to_numpy() if os.path.isdir(out) else np.array([], np.int64))
        shutil.rmtree(work, ignore_errors=True)
        return ps, res

    def check(self, res: dict, corrupt: bool) -> list[tuple[str, str | None]]:
        """One checked operation per micro-batch (its survivors are
        exactly its fresh docs) plus the finishing exact_dedup."""
        d = self.data
        if res["error"] is not None:
            e = res["error"]
            return [(self.GATE, f"raised {type(e).__name__}: {e}")] * (len(d.batch_ids) + 1)
        raw, final = res["raw_ids"], res["output"]
        if corrupt:
            raw = raw[:-1]
        results = []
        n_trig = len(res["progress"])
        for b, ids in enumerate(d.batch_ids):
            msg = None
            if n_trig != len(d.batch_ids):
                msg = f"{n_trig} micro-batches, expected one per file"
            else:
                got = raw[(raw >= ids[0]) & (raw <= ids[-1])]
                want = np.array(sorted(i for i in ids.tolist() if i in d.fresh))
                if got.size != np.unique(got).size:
                    msg = f"batch {b}: duplicate survivors"
                elif not np.array_equal(np.sort(got), want):
                    missed = len(set(got.tolist()) - set(want.tolist()))
                    lost = len(set(want.tolist()) - set(got.tolist()))
                    msg = (f"batch {b}: {missed} planted near-dups kept, "
                           f"{lost} fresh docs dropped")
            results.append((f"{self.GATE}.batch{b}", msg))
        if isinstance(final, Exception):
            results.append((self.FINISH, f"raised {type(final).__name__}: {final}"))
        else:
            ids = np.sort(final.column("doc_id").to_numpy())
            ok = np.array_equal(ids, np.unique(raw))
            results.append((self.FINISH, None if ok else "ids differ from the gate output"))
        return results

    def batch_latencies(self, passes_out: list) -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1e3
                for res in passes_out for p in res["progress"]]

    def run_metrics(self, passes_out: list) -> dict:
        """Ingest figures that need no event log: micro-batch latency and
        phases as Spark's progress reports them, and bytes stored."""
        ph = [p["durationMs"] for res in passes_out for p in res["progress"]]
        if not ph:
            return {}
        lat = self.batch_latencies(passes_out)
        key = f"streaming.{self.GATE}"
        out = {f"{key}.{k}_s": statistics.median(x.get(k, 0) for x in ph) / 1e3
               for k in self.PHASES}
        out[f"{key}.state_mb"] = statistics.median(r["state_mb"] for r in passes_out)
        out["ingest.batch_p50_s"] = statistics.median(lat)
        out["ingest.batch_max_s"] = max(lat)
        out["ingest.bytes_stored_per_input_byte"] = statistics.median(
            r["stored_ratio"] for r in passes_out)
        return out

    def layer_metrics(self, tracer: Tracer, log: EventLog, passes: list) -> dict:
        rows, batches = [], []
        for p in passes:
            row = {}
            for op in tracer.children(p):
                if op.name == self.FINISH:
                    row.update(_op_layer_metrics(tracer, log, op, "extensions"))
                elif op.name == self.GATE and tracer.children(op, "call"):
                    row[f"streaming.{self.GATE}.call_s"] = tracer.children(op, "call")[0].dur
                    for b in tracer.children(op, "batch"):
                        jobs = log.within(b.start, b.end)
                        busy = union_s([(j.start, j.end) for j in jobs], b.start, b.end)
                        batches.append({"trigger_s": b.dur, "jobs_per_batch": len(jobs),
                                        "jobs_s": busy, "driver_gap_s": b.dur - busy})
            rows.append(row)
        out = median_of(rows)
        key = f"streaming.{self.GATE}"
        out.update({f"{key}.{k}": v for k, v in median_of(batches).items()})
        return out


WORKLOADS = {"panel": Panel, "ingest": Ingest}
