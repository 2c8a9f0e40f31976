"""Layered benchmark for tsdisagg-spark.

    python3 perfbench/run.py --workload fleet_short --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout.  One Python process, ``local[<cpus>]``,
one closed-loop client: the next operation starts when the previous one
ends.  A run sets up (session + seeded inputs + a warm-up pass that also
collects the outputs), measures whole passes for about ``--seconds``
seconds, then checks the warm-up outputs (untimed).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the timed
phase three times, half as long each — untraced, traced, untraced —
replays a sample of the workload's series in-process, and prints the
per-layer metrics, the tracing overhead and the reconciliation residuals.
Either way the last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the full record (noise stamps, spans, per-pass layers) goes
to ``.perfbench_work/runs/``.  See ``perfbench/METHODOLOGY.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
import traceback
import warnings
from contextlib import nullcontext

from harness import SparkStatus, Noise, Tracer, build_session, median, percentile, shutdown

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")



def _declared_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them; a run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[key]} for key in ("end_to_end", "per_layer"))


PY_KEYS = ("boot_s", "init_s", "run_s", "bytes_sent", "bytes_received")


def _isolate_scratch() -> None:
    """Point every temp/scratch location (Python's, the JVM's, Spark's)
    inside the checkout, before anything creates one; pin BLAS to one
    thread before numpy loads, as the engine's session does for its
    workers, so the in-process replay runs the kernels the way the
    workers do."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "spark"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark")
    # every JVM (spark-submit's launcher and Spark's own): temp files here,
    # and no hsperfdata directory under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    def __init__(self, wl, seed: int, seconds: float, trace: bool, cpus: int):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.cpus = cpus
        self.noise = Noise(cpus)
        self.tracer = Tracer(trace)
        self.spark = None
        self.status = None
        self.boot_s = 0.0
        self.release_s = 0.0
        self.op_failed = 0
        self.op_attempted = 0

    # ---- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """Session, seeded inputs, and the warm-up: one pass that collects
        every output for the check, then ``warm_passes`` untimed passes of
        the timed pass's noop actions."""
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("get_spark"):
                self.spark = build_session(self.cpus, WORK)
            self.session_s = time.perf_counter() - t0
            with self.tracer.span("generate"):
                data_dir = os.path.join(WORK, "data", f"{self.wl.name}-{self.seed}")
                self.wl.prepare(self.spark, self.seed, data_dir)
            if self.trace:
                self.status = SparkStatus(self.spark)
                self.status.set_group("warmup")
            with self.tracer.span("warmup"):
                self.wl.warmup(self.spark)
                rng = random.Random(self.seed)
                for k in range(self.wl.warm_passes):
                    self._pass(False, f"warmup{k}", rng)
        self.setup_s = time.perf_counter() - t0
        if self.trace:
            # Python workers start during the warm-up and later passes reuse
            # them, so their start time is a set-up cost
            self.status.set_group(None)
            self.boot_s = self.status.python_metrics(set(self.status.jobs("warmup")))["boot_s"]
        self.noise.sample()

    # ---- timed phase --------------------------------------------------------

    def _pass(self, traced: bool, pid: str, rng: random.Random) -> tuple[float, list[dict]]:
        """One closed-loop pass over the workload's operations: (pass wall
        time without the RSS/load sampling between operations, per-operation
        records)."""
        spark, wl = self.spark, self.wl
        span = self.tracer.span if traced else (lambda *a, **kw: nullcontext())
        group = self.status.set_group if traced else (lambda g: None)
        sampling, ops = 0.0, []
        t_pass = time.perf_counter()
        with span("pass", pass_id=pid):
            for name, build in wl.ops(spark, rng):
                t0 = time.perf_counter()
                rec = {"op": name, "ok": True}
                try:
                    group(f"c|{pid}|{name}")
                    with span("construct:" + name, pass_id=pid):
                        df = build()
                    t1 = time.perf_counter()
                    group(f"a|{pid}|{name}")
                    with span("action:" + name, pass_id=pid):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    group(None)
                    with span("release_all:" + name, pass_id=pid):
                        wl.after_op(spark)
                    t3 = time.perf_counter()
                    rec.update(construct_s=t1 - t0, action_s=t2 - t1, release_s=t3 - t2)
                except Exception as exc:  # noqa: BLE001 — counted, not fatal
                    group(None)
                    rec["ok"] = False
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                    self.op_failed += wl.op_weight(name)
                self.op_attempted += wl.op_weight(name)
                rec["wall_s"] = time.perf_counter() - t0
                ops.append(rec)
                ts = time.perf_counter()
                self.noise.sample()
                sampling += time.perf_counter() - ts
        return time.perf_counter() - t_pass - sampling, ops

    def timed(self, traced: bool, label: str) -> dict:
        """Whole passes until about ``seconds`` of pass time (a pass is not
        started with less than half a pass of time left)."""
        rng = random.Random(self.seed * 7919 + 17)
        passes, records = [], []
        while True:
            pid = f"{label}{len(passes)}"
            wall, ops = self._pass(traced, pid, rng)
            passes.append(wall)
            record = {"pass": pid, "wall_s": wall, "ops": ops}
            if traced:
                tr = time.perf_counter()
                record["layers"] = self._read_layers(pid, ops)
                record["layers"]["trace.read_s"] = time.perf_counter() - tr
            records.append(record)
            if sum(passes) + 0.5 * sum(passes) / len(passes) >= self.seconds:
                break
        lat = [o["wall_s"] for rec in records for o in rec["ops"]]
        return {"passes": passes, "latencies": lat, "records": records}

    def _read_layers(self, pid: str, ops: list[dict]) -> dict:
        st = self.status
        agg: dict[str, float] = {}
        ratios = []
        for rec in ops:
            if not rec["ok"]:
                continue
            c = st.jobs(f"c|{pid}|{rec['op']}")
            a = st.group_metrics(f"a|{pid}|{rec['op']}")
            ratios.append(a.pop("task_max_over_mean"))
            rec["layers"] = a
            vals = {
                "queries.construct_s": rec["construct_s"],
                "queries.construct_jobs": len(c),
                "exec.action_s": rec["action_s"],
                "cache.release_s": rec["release_s"],
                "reconcile.query_residual_s": rec["wall_s"]
                - rec["construct_s"] - rec["action_s"] - rec["release_s"],
            }
            for key, v in a.items():
                vals[("py." if key in PY_KEYS else "exec.") + key] = v
            for k, v in vals.items():
                agg[k] = agg.get(k, 0.0) + v
        agg["exec.task_max_over_mean"] = median(ratios) if ratios else 1.0
        agg["reconcile.task_minus_py_s"] = (
            agg.get("exec.task_run_s", 0.0) - agg.get("py.run_s", 0.0)
        )
        return agg

    # ---- in-process replay of the kernel layers ---------------------------

    def replay(self) -> dict:
        """Time ``disagg.disaggregate_full`` and, inside it,
        ``kernels.solve_series`` on a fixed sample of the workload's own
        series, in this process."""
        from tsdisagg_spark import disagg, kernels

        inputs = self.wl.replay_inputs()
        solve = kernels.solve_series
        spent: list[float] = []
        banded = [0]

        def timed_solve(y, X, C, *a, **kw):
            t = time.perf_counter()
            try:
                return solve(y, X, C, *a, **kw)
            finally:
                spent.append(time.perf_counter() - t)
                banded[0] += X.shape[0] >= kernels.BANDED_THRESHOLD

        full, kern = [], []
        kernels.solve_series = timed_solve
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                for low_df, high_df, kw in inputs:
                    with self.tracer.span("replay:disaggregate_full"):
                        n_spent = len(spent)
                        t = time.perf_counter()
                        disagg.disaggregate_full(
                            low_df, high_df, verbose=False, compute_report=False, **kw
                        )
                        full.append(time.perf_counter() - t)
                        kern.append(sum(spent[n_spent:]))
        finally:
            kernels.solve_series = solve
        return {
            "disagg.full_ms_per_series": 1e3 * median(full),
            "kernels.solve_ms_per_series": 1e3 * median(kern),
            "disagg.prep_ms_per_series": 1e3 * median([f - k for f, k in zip(full, kern)]),
            "kernels.banded_series": banded[0],
            "replayed_series": len(full),
        }

    def teardown(self) -> None:
        if self.spark is not None:
            t = time.perf_counter()
            with self.tracer.span("release_all"):
                self.wl.release(self.spark)
            self.release_s = time.perf_counter() - t
        shutdown(self.spark)
        self.spark = None
        shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)


def _e2e(run: Run, timed: dict, attempted: int, failed: int) -> dict:
    passes, lat = timed["passes"], timed["latencies"]
    return {
        "setup_s": run.setup_s,
        "series_per_s": median([run.wl.series_per_pass / w for w in passes]),
        "queries_per_s": sum(o["ok"] for r in timed["records"] for o in r["ops"]) / sum(passes),
        "query_p50_s": percentile(lat, 0.5),
        "query_p90_s": percentile(lat, 0.9),
        "ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": run.noise.peak_rss_mb,
    }


def _layers(run: Run, untraced: list[float], traced: dict, replay: dict) -> dict:
    recs = [r["layers"] for r in traced["records"]]
    out = {}
    for key in recs[0]:
        out[key] = median([r[key] for r in recs if key in r])
    out["session.build_s"] = run.session_s
    out["py.boot_s"] = run.boot_s
    if not run.wl.release_per_op:
        # fleets keep their inputs cached for the whole run and release them
        # when it ends; report that release instead of the no-op per pass
        out["cache.release_s"] = run.release_s
    out.update({k: v for k, v in replay.items() if k != "replayed_series"})
    n = run.wl.series_per_pass
    out["py.boundary_ms_per_series"] = (
        1e3 * out.get("py.run_s", 0.0) / n - replay["disagg.full_ms_per_series"]
    )
    out["trace.overhead_s"] = median(traced["passes"]) - median(untraced)
    return out


def main(argv=None) -> int:
    args = _args(argv)
    _isolate_scratch()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.path.insert(0, HERE)
    import tsdisagg_spark  # noqa: F401 — fail fast when the program is absent

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    wl = WORKLOADS[args.workload]()
    run = Run(wl, args.seed, args.seconds, bool(args.trace), cpus)
    try:
        run.setup()
        if args.trace:
            # untraced - traced - untraced, so warm-up drift between the
            # phases does not read as tracing overhead; each gets half the time
            run.seconds = args.seconds / 2
        untraced = run.timed(False, "u")
        traced = run.timed(True, "t") if args.trace else None
        after = run.timed(False, "v") if args.trace else None
        replay = run.replay() if args.trace else None
        attempted, failed, problems = wl.check()
    finally:
        run.teardown()
    attempted += run.op_attempted
    failed += run.op_failed
    for phase in (untraced, traced, after):
        for rec in (phase or {}).get("records", []):
            problems += [f"{o['op']}: {o['error']}" for o in rec["ops"] if not o["ok"]]

    e2e_units, layer_units = _declared_units()
    if args.trace:
        metrics = _layers(run, untraced["passes"] + after["passes"], traced, replay)
        units = layer_units
    else:
        metrics = _e2e(run, untraced, attempted, failed)
        units = e2e_units
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    noise = run.noise.stamp()
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "noise": noise, "attempted": attempted, "failed": failed,
        "problems": problems, "setup_s": run.setup_s, "session_s": run.session_s,
        "series_per_pass": wl.series_per_pass, "metrics": metrics,
        "untraced": untraced, "traced": traced, "untraced_after": after,
        "replay": replay,
        "spans": run.tracer.spans,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    path = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)

    for p in problems[:20]:
        print(f"FAILED {p}")
    n_lat = len(untraced["latencies"])
    print(
        f"# {args.workload} seed={args.seed} passes={len(untraced['passes'])} "
        f"query_samples={n_lat} series_per_pass={wl.series_per_pass} "
        f"failed_frac={failed / attempted:.6f} ({failed}/{attempted}) "
        + " ".join(f"{k}={v}" for k, v in noise.items())
    )
    if args.trace:
        _print_reconciliation(metrics, wl)
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _print_reconciliation(m: dict, wl) -> None:
    print(
        f"# reconcile: per query, wall - (construct + action + release) summed "
        f"over a pass = {m.get('reconcile.query_residual_s', 0.0):.4f} s"
    )
    py_run_ms = 1e3 * m.get("py.run_s", 0.0) / wl.series_per_pass
    if py_run_ms > 0:
        k = m["kernels.solve_ms_per_series"]
        prep = m["disagg.prep_ms_per_series"]
        bnd = m["py.boundary_ms_per_series"]
        print(
            f"# reconcile: py.run per series {py_run_ms:.3f} ms = kernel {k:.3f} "
            f"({k / py_run_ms:.1%}) + prep {prep:.3f} ({prep / py_run_ms:.1%}) + "
            f"boundary {bnd:.3f} ({bnd / py_run_ms:.1%}); residual "
            f"{py_run_ms - k - prep - bnd:.3g} ms"
        )
    print(
        f"# reconcile: executor task time not spent running Python workers "
        f"= {m.get('reconcile.task_minus_py_s', 0.0):.3f} s per pass; "
        f"tracing overhead (traced - untraced pass wall) = {m['trace.overhead_s']:.4f} s"
    )


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — no result line on any failure
        traceback.print_exc()
        sys.exit(1)
