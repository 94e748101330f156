"""Benchmark of the KG-construction pipeline and the lookup service.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

One client drives one workload in a closed loop on local[<cores>]: the
next operation starts only after the previous one returned. The run
starts its own Spark session (fixed heap and shuffle partitions), builds
the fixtures from ``--seed`` and the index artifacts, discards warm-up
operations, then times operations until ``--seconds`` of operation time
and the workload's minimum count are reached. Between
operations, outside the timed region, it unpersists leftover frames and
asks the JVM for a GC.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
first timed operation with spans around every layer call, then without,
and reports the per-layer metrics (see perfbench/README.md). The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error, with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


# the workload whose traced run also measures the incremental write path
# (AppendProbe): its traced run is the shorter one
APPEND_PROBE_ON = "lookup_service"


def _declared() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["kg_batch", "lookup_service"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _unit(name: str, declared: dict) -> str:
    """The declared unit; workload-specific metrics by their suffix."""
    if name in declared:
        return declared[name]
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    return "frac" if name.endswith(("_frac", ".yield")) else "count"


class Run:
    """One benchmark run: session, set-up, warm-up, timed and traced
    operations. Metrics are assembled after the session stopped."""

    def __init__(self, args, work: str):
        from perfbench.tracing import NullTracer, Tracer

        self.args, self.work = args, work
        self.traced = bool(args.trace)
        self.tracer = Tracer() if self.traced else NullTracer()
        self.null = NullTracer()
        self.cross_ok = True

    def setup(self, spark, session_s: float) -> None:
        from lamapi_spark.pipeline.fixtures import build_kg, kg_dataframes
        from lamapi_spark.pipeline.run import build_index_artifacts
        from perfbench import session
        from perfbench.workloads import KG_SIZE, WORKLOADS

        self.spark, self.session_s = spark, session_s
        t0 = time.perf_counter()
        self.kg = build_kg(seed=self.args.seed, **KG_SIZE)
        self.frames = kg_dataframes(spark, self.kg)
        fixture_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with self.tracer.span("indexes.build"):
            self.index = build_index_artifacts(
                spark, self.frames["kg_items"], prefix="perfbench_idx", reuse=False)
        self.build_s = time.perf_counter() - t0
        log(f"index build: {self.build_s:.2f}s")
        self.setup_s = session_s + fixture_s + self.build_s
        self.wl = WORKLOADS[self.args.workload](
            spark, self.kg, self.frames, self.index, self.args.seed)
        self.keep = session.persisted_rdds(spark)

    def sample(self, i: int, traced: bool, n: int) -> dict:
        """Operation on input ``i``; ``n`` numbers the sample."""
        from lamapi_spark.pipeline.cache_registry import CacheScope
        from perfbench import session
        from perfbench.tracing import traced_stages

        spark, wl = self.spark, self.wl
        frame = wl.inputs(i)
        tracer = self.tracer if traced else self.null
        ckpt = os.path.join(self.work, "ckpt", f"op{n}") if traced else None
        stages = traced_stages(self.tracer) if traced else contextlib.nullcontext()
        rec = {"i": i, "n": n, "traced": traced, "latency": None,
               "check": {"ok": False}}
        gc0 = session.gc_totals(spark)
        rec["start_ms"] = time.time() * 1000
        t0 = time.perf_counter()
        try:
            with CacheScope(), tracer.span(wl.name, op=n), stages:
                out, rows = wl.op(frame, tracer, ckpt)
            latency = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000
            rec["gc"] = [b - a for a, b in zip(gc0, session.gc_totals(spark))]
            rec["check"] = wl.check(i, rows)
            rec["latency"] = latency
            if traced:
                rec["counts"] = wl.traced_counts(out)
                self.cross_ok = self.cross_ok and wl.cross_check(i, rows)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        rec.setdefault("end_ms", time.time() * 1000)
        rec["leaked"] = len(session.persisted_rdds(spark) - self.keep)
        session.release(spark, self.keep)
        log(f"op {n} (input {i}{', traced' if traced else ''}): "
            f"{rec['latency']} s, ok={rec['check']['ok']}")
        return rec

    def measure(self) -> None:
        from perfbench import session

        wl = self.wl
        self.warm = [self.sample(i, False, i) for i in range(wl.warmups)]
        self.plain, self.traced_recs, i = [], [], wl.warmups
        if self.traced:
            # one traced operation, then its untraced twin: the JVM is
            # still warming, so trace.overhead_s errs high, not low
            self.traced_recs.append(self.sample(i, True, i))
            self.plain.append(self.sample(i, False, i + 1))
        else:
            busy = 0.0
            while i < wl.warmups + wl.max_ops and (
                    len(self.plain) < wl.min_ops or busy < self.args.seconds):
                rec = self.sample(i, False, i)
                self.plain.append(rec)
                busy += rec["latency"] or 0.0
                i += 1
        self.append_recs = []
        if self.traced and self.wl.name == APPEND_PROBE_ON:
            self.append_recs.append(self.probe_appends())
        self.rss_mb = session.peak_rss_mb()
        wh = os.path.join(self.work, "warehouse")
        self.index_bytes = sum(session.dir_bytes(os.path.join(wh, d))
                               for d in os.listdir(wh)
                               if d.startswith("perfbench_idx_"))

    def probe_appends(self) -> dict:
        """One-shot run, then an append that seeds an output directory
        and a measured second append; the appends must add up to the
        one-shot run (untimed by the end-to-end metrics)."""
        from lamapi_spark.pipeline.cache_registry import CacheScope
        from perfbench import session
        from perfbench.workloads import AppendProbe

        probe = AppendProbe(self.spark, self.kg, self.frames, self.index,
                            self.args.seed, os.path.join(self.work, "kg_out"))
        rec = {"check": {"ok": False}, "metrics": {}}
        try:
            with CacheScope():
                once = probe.one_shot()
            session.release(self.spark, self.keep)
            for k in range(2):
                with CacheScope():
                    span = probe.append(k, self.tracer)
                session.release(self.spark, self.keep)
            rec["metrics"] = probe.metrics(span)
            rec["check"] = {"ok": probe.appended() == once}
        except Exception:
            traceback.print_exc(file=sys.stderr)
        session.release(self.spark, self.keep)
        log(f"appends: {rec['metrics'].get('incremental.append_s')} s, "
            f"union equals one-shot run: {rec['check']['ok']}")
        return rec

    def end_to_end(self) -> dict:
        done = [r for r in self.plain if r["latency"] is not None]
        lat = [r["latency"] for r in done]
        busy = sum(lat)
        # quality over every checked operation, the warm-up included
        precision, recall = self.wl.quality(
            [r["check"] for r in self.warm + self.plain if r["latency"] is not None])
        return {
            "setup_s": self.setup_s,
            "latency_p50_s": statistics.median(lat) if lat else 0.0,
            "work_per_s": (sum(self.wl.units(r["i"]) for r in done) / busy
                           if busy else 0.0),
            "success_frac": (sum(r["check"]["ok"] for r in self.plain)
                             / len(self.plain)),
            "precision": precision,
            "recall": recall,
            "peak_rss_mb": self.rss_mb,
        }

    def per_layer(self) -> tuple[dict, dict]:
        """(metrics every workload reports, workload-specific metrics)."""
        from perfbench import session
        from perfbench.workloads import median_or_zero

        jobs = session.event_log_jobs(os.path.join(self.work, "events"))
        per_op = []
        for r in self.plain:
            mine = [j for j in jobs if r["start_ms"] <= j["submit_ms"] <= r["end_ms"]]
            per_op.append((len(mine), sum(j["tasks"] for j in mine),
                           sum(j["shuffle_bytes"] for j in mine)))
        traced_lat = [r["latency"] for r in self.traced_recs if r["latency"]]
        paired_lat = [r["latency"] for r in self.plain[:len(self.traced_recs)]
                      if r["latency"]]
        gc = [r["gc"] for r in self.plain if "gc" in r]
        common = {
            "session.start_s": self.session_s,
            "session.gc_count": median_or_zero([g[1] for g in gc]),
            "session.jobs_per_op": median_or_zero([p[0] for p in per_op]),
            "session.tasks_per_op": median_or_zero([p[1] for p in per_op]),
            "session.shuffle_bytes": median_or_zero([p[2] for p in per_op]),
            "indexes.build_s": self.build_s,
            "indexes.bytes": self.index_bytes,
            "indexes.names_rows": self.index.n_names,
            "cache_registry.leaked_frames": (
                sum(r["leaked"] for r in self.plain) / len(self.plain)),
            "trace.overhead_s": median_or_zero(traced_lat) - median_or_zero(paired_lat),
        }
        op_ids = {r["n"] for r in self.traced_recs}
        counts = [r.get("counts", {}) for r in self.traced_recs]
        extra = self.wl.layer_metrics(self.tracer, op_ids, counts)
        extra["session.gc_s"] = median_or_zero([g[0] for g in gc])
        for rec in self.append_recs:
            extra.update(rec["metrics"])
        if self.wl.name == "lookup_service":
            extra["lookup.jobs_per_request"] = common["session.jobs_per_op"]
            extra["lookup.tasks_per_request"] = common["session.tasks_per_op"]
        return common, extra

    def result(self) -> dict:
        checked = self.plain + self.traced_recs + self.append_recs
        failed = sum(not r["check"]["ok"] for r in checked)
        correct = (all(r["check"]["ok"] for r in self.warm + checked)
                   and self.cross_ok)
        end_to_end, per_layer = _declared()
        declared = {**end_to_end, **per_layer}
        if self.traced:
            metrics, extra = self.per_layer()
            self.tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                          f"trace-{self.wl.name}-seed{self.args.seed}.json"),
                             {**metrics, **extra})
            shown = {**metrics, **extra}
        else:
            metrics = shown = self.end_to_end()
        assert set(metrics) == set(per_layer if self.traced else end_to_end)
        print(f"# {self.wl.name}: {len(self.plain)} timed samples "
              f"({self.wl.warmups} warm-up discarded), "
              f"{len(self.traced_recs)} traced")
        for name, value in shown.items():
            print(f"# {name} = {value:.6g} {_unit(name, declared)}")
        return {"correct": correct,
                "attempted": len(checked),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": declared[k]}
                            for k, v in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import lamapi_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from perfbench import session

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    run = Run(args, work)
    try:
        spark, session_s = session.start(work, event_log=run.traced)
        log(f"session started: {session_s:.2f}s")
        try:
            run.setup(spark, session_s)
            run.measure()
        finally:
            session.stop(spark)
            log("session stopped")
        out = run.result()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
