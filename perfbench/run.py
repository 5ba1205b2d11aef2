"""pi2spark benchmark: one command, three workloads, correctness gates.

    python3 perfbench/run.py --workload {bulk_chain,erasure_mix,analytics}
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It starts one Spark session on
``local[<cores>]`` with the engine's own session factory, sets up the
workload from ``--seed``, runs untimed warm-up units, then the
workload's closed loop (one client) until ``--seconds`` have passed and
at least ``MIN_UNITS`` units of work completed. Everything it writes goes under
``.perfbench/`` in the checkout (tables, Spark scratch, temp files,
the span log); the working tables are removed at exit.

Output: a report line (the workload's named metrics with units, the
host facts, the noise probes and every gate failure), then as the last
line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the per-layer ones: units alternate between untraced
and traced (the engine's public calls wrapped), so each traced unit has
an untraced neighbour and the report carries the tracing overhead.

Workload and metric definitions live in ``perfbench/workloads.py``
and ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

E2E_UNITS = {"setup_s": "s", "unit_p50_s": "s", "write_p50_s": "s", "maintain_p50_s": "s", "read_p50_s": "s"}
PASSES = ("compact", "cluster", "shred", "expire")
PASS_COUNTERS = ("jobs", "tasks", "files_in", "files_out", "bytes_rewritten", "waves", "replans")
NAMED_UNITS = {
    "ingest_s": "s", "maintain_s": "s", "verify_scan_s": "s", "write_amp": "ratio",
    "erase_p50_s": "s", "erase_tail_s": "s", "erase_write_amp": "ratio",
    "access_p50_s": "s", "access_tail_s": "s", "append_p50_s": "s",
    "analytics_pass_s": "s", "failed_share": "share",
}
LAYER_UNITS = {
    "session.start_s": "s", "synth.generate_s": "s",
    "crypto.encrypt_s": "s", "crypto.encrypt_mb_per_s": "MB/s", "crypto.decrypt_s": "s", "crypto.keys_s": "s",
    "table.write_s": "s", "table.stats_sweep_s": "s", "table.stats_files": "count",
    "table.commit_s": "s", "table.snapshot_s": "s", "table.snapshots_live": "count",
    "table.plan_s": "s", "table.files_planned": "count", "table.files_live": "count",
    "bloom.fp_share": "share", "zorder.boundaries_s": "s", "zorder.key_s": "s",
    **{f"maintenance.{p}_s": "s" for p in PASSES},
    **{
        f"maintenance.{p}.{c}": ("bytes" if c == "bytes_rewritten" else "count")
        for p in PASSES for c in PASS_COUNTERS
    },
    "registry.forget_s": "s", "datasource.append_s": "s", "verify.digest_s": "s",
    "textops.minhash_dedup_s": "s", "textops.exact_dedup_s": "s", "textops.quality_scores_s": "s",
    "vectorops.ann_topk_s": "s", "sql.pricing_summary_s": "s", "sql.zorder_morton_s": "s",
    "trace.overhead_s": "s", "trace.coverage_share": "share",
    **{f"trace.{k}_coverage_share": "share" for k in ("write", "maintain", "read")},
    **{f"workload.{k}": u for k, u in NAMED_UNITS.items()},
}
# setups timed per run: the chain's median is taken over three, so the
# first (cold JVM) one does not set it; the erasure mix's builds a
# clustered table (~22 s cold), and one is all a run leaves room for
SETUP_REPS = {"bulk_chain": 3, "erasure_mix": 1, "analytics": 3}
# untimed units after setup. A fresh JVM and worker pool runs the first
# chain ~2.5x slower than the steady state (~14 s against ~5.5 s), the
# second ~25% and the third still ~10-20% slower (its maintain phase
# was the slowest of three measured chains in five runs of five); from
# the fourth on the chains are level. The erasure cycles were level
# from the fourth cycle on
WARMUP_UNITS = {"bulk_chain": 3, "erasure_mix": 3, "analytics": 0}
# units measured at least. Level chains of one run agree within ~10%,
# so two suffice, and a third does not fit the run's time budget (~6 s
# a chain); an erase's time varies ~1.5x with the subject erased, so
# the mix measures ten cycles. The run-to-run spread comes mostly from
# the host: every unit of a run is slower in a slow stretch. With
# --trace 1 each side (untraced, traced) gets half, rounded up, and at
# least two
MIN_UNITS = {"bulk_chain": 2, "erasure_mix": 10, "analytics": 2}
# the benchmark's timed phases -> the end-to-end metric whose time they
# are; each also counts toward ``unit_p50_s``. ``mix.expire`` belongs to
# the unit only
PHASE_METRIC = {
    "chain.ingest": "write_p50_s", "chain.compact": "maintain_p50_s", "chain.cluster": "maintain_p50_s",
    "chain.shred": "maintain_p50_s", "chain.expire": "maintain_p50_s", "chain.verify_scan": "read_p50_s",
    "mix.append": "write_p50_s", "mix.erase": "maintain_p50_s", "mix.access": "read_p50_s", "mix.expire": None,
}
# spans the benchmark opens itself; every other span is an engine layer
OWN_SPANS = ("request", "chain.", "mix.", "probe.")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["bulk_chain", "erasure_mix", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rows", type=int, default=20_000, help="source-table rows; analytics tables scale with it")
    ap.add_argument("--max-len", type=int, default=8_000, help="longest synthesized content")
    return ap.parse_args(argv)


def check_sources() -> None:
    """Fail before starting Spark when the engine is not in the checkout."""
    missing = [p for p in ("pi2spark/__init__.py", "__spark_entry__.py") if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: not a pi2spark checkout ({', '.join(missing)} missing under {ROOT})")
    import pi2spark  # noqa: F401

    if os.path.dirname(os.path.abspath(pi2spark.__file__)) != os.path.join(ROOT, "pi2spark"):
        raise SystemExit(f"perfbench: pi2spark imported from {pi2spark.__file__}, not from the checkout")


def noise_probe(work: str) -> dict:
    """Host-noise index, on the pattern of bench.py's probe: wall time
    of 32 x 1 MiB file writes inside the working dir (``io_s``) and of
    sha256 over the same 32 MiB (``cpu_s``). A stalled or slowed window
    shows as an outlier next to the unit it preceded."""
    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    for i in range(32):
        p = os.path.join(work, f"noise-{i}")
        with open(p, "wb") as fh:
            fh.write(buf)
        os.remove(p)
    t1 = time.perf_counter()
    d = hashlib.sha256()
    for _ in range(32):
        d.update(buf)
    return {"io_s": t1 - t0, "cpu_s": time.perf_counter() - t1}


def host_facts() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30, 1),
    }


class Ctx:
    def __init__(self, args, spark, tracer, work):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed = args.seed
        self.rows, self.max_len = args.rows, args.max_len


def start_spark(work: str, cores: int):
    from pi2spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PI2SPARK_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a 15 GB host shared with other jobs: cap the driver heap unless set
    os.environ.setdefault("PI2SPARK_DRIVER_MEM", "4g")
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"},
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM gateway and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_units(w, ctx, seconds: float, min_units: int, noise: list, trace: bool) -> list[tuple[bool, dict]]:
    """The closed loop: one unit after another until ``seconds`` have
    passed and ``min_units`` units succeeded. With ``trace`` the units
    alternate untraced / traced (wrappers installed, spans kept) and
    half of ``min_units``, rounded up, holds for each side, but at
    least two, so that the overhead has two pairs. Returns ``(traced,
    unit)`` in run order; a failed unit is ``{}``."""
    tracer = ctx.tracer
    if trace:
        min_units = max(2, -(-min_units // 2))
    out: list[tuple[bool, dict]] = []
    deadline = time.perf_counter() + seconds
    i = w.next_unit
    while True:
        traced = trace and len(out) % 2 == 1
        noise.append(noise_probe(ctx.work))
        if traced:
            tracer.install()
            tracer.enabled = True
        tracer.unit = i
        try:
            with tracer.request(f"{w.name}-{i}") if w.unit_is_request else nullcontext():
                u = w.unit(i)
        finally:
            tracer.enabled = False
            tracer.unit = None
            if traced:
                tracer.uninstall()
        i += 1
        out.append((traced, u))
        done = min(sum(1 for t, x in out if x and t == side) for side in ({False, True} if trace else {False}))
        if time.perf_counter() >= deadline and done >= min_units and not (trace and len(out) % 2):
            break
        if len(out) >= 10 * max(min_units, 1) and not any(x for _, x in out):
            break  # every unit fails: stop, the gates already say why
    w.next_unit = i
    return out


def layer_metrics(all_spans: list[dict]) -> dict:
    """Per-layer numbers from the traced spans (see METRICS.md). Only
    spans inside the workload's own requests count: setup spans (no
    request) give ``synth.generate_s`` alone, and ``probe-*`` requests
    (the benchmark's extra measurements) give nothing here."""
    from perfbench.stats import median, self_times

    by_id = {s["id"]: s for s in all_spans}
    spans = [s for s in all_spans if s["request"] is not None and not s["request"].startswith("probe")]
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    selft = self_times(all_spans)

    def subtree(s):
        out = [s]
        for c in children.get(s["id"], ()):
            out.extend(subtree(c))
        return out

    def outermost(s):
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == s["name"]:
                return False
            p = by_id[p]["parent"]
        return True

    def per_request(name, value):
        acc: dict = {}
        for s in spans:
            if s["name"] == name and outermost(s):
                acc[s["request"]] = acc.get(s["request"], 0.0) + value(s)
        return median(acc.values()) or 0.0

    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    out = {
        "crypto.keys_s": per_request("crypto.keys", dur),
        "table.write_s": per_request("table.write", lambda s: selft[s["id"]]),
        "table.stats_sweep_s": per_request("table.stats_sweep", dur),
        "table.stats_files": per_request("table.stats_sweep", lambda s: s["counters"]["stats_files"]),
        "table.commit_s": per_request("table.commit", dur),
        "table.snapshot_s": per_request("table.snapshot", dur),
        "table.plan_s": per_request("table.plan", dur),
        "table.files_planned": per_request("table.plan", lambda s: s["counters"]["files_planned"]),
        "table.files_live": per_request("table.plan", lambda s: s["counters"]["files_live"]),
        "zorder.boundaries_s": per_request("zorder.boundaries", dur),
        "registry.forget_s": per_request("registry.forget", dur),
        "datasource.append_s": per_request("datasource.append", dur),
        "verify.digest_s": per_request("verify.digest", dur),
        "synth.generate_s": median(
            dur(s) for s in all_spans if s["name"] == "synth.generate" and s["request"] is None
        ) or 0.0,
    }
    for layer in ("textops.minhash_dedup", "textops.exact_dedup", "textops.quality_scores",
                  "vectorops.ann_topk", "sql.pricing_summary", "sql.zorder_morton"):
        out[f"{layer}_s"] = per_request(layer, dur)
    for p in PASSES:
        calls = [s for s in spans if s["name"] == f"maintenance.{p}"]
        out[f"maintenance.{p}_s"] = median(dur(s) for s in calls) or 0.0
        per_call: dict[str, list] = {c: [] for c in PASS_COUNTERS}
        for s in calls:
            tree = subtree(s)
            per_call["jobs"].append(sum(x.get("jobs", 0) for x in tree))
            per_call["tasks"].append(sum(x.get("tasks", 0) for x in tree))
            per_call["waves"].append(sum(1 for x in tree if x["name"] == "table.new_data_dir"))
            for c in ("files_in", "files_out", "bytes_rewritten", "replans"):
                per_call[c].append(s.get("counters", {}).get(c, 0))
        for c in PASS_COUNTERS:
            out[f"maintenance.{p}.{c}"] = median(per_call[c]) or 0
    return out


def coverage(spans: list[dict]) -> dict[str, float | None]:
    """Per end-to-end metric: the median over units of the share of the
    metric's time (its phase spans, ``PHASE_METRIC``) that engine layer
    spans cover. ``unit_p50_s`` pools every phase of a unit. The loop
    runs one call at a time, so a layer span inside a phase's interval
    is that phase's work."""
    from perfbench.stats import covered, median

    layers = [(s["start"], s["end"]) for s in spans if not s["name"].startswith(OWN_SPANS)]
    acc: dict[tuple, list[float]] = {}
    for s in spans:
        if s["name"] not in PHASE_METRIC:
            continue
        c = covered(layers, s["start"], s["end"])
        for m in (PHASE_METRIC[s["name"]], "unit_p50_s"):
            if m is not None:
                cd = acc.setdefault((s["unit"], m), [0.0, 0.0])
                cd[0] += c
                cd[1] += s["end"] - s["start"]
    metrics = ("unit_p50_s", "write_p50_s", "maintain_p50_s", "read_p50_s")
    return {m: median(c / d for (_, k), (c, d) in acc.items() if k == m and d > 0) for m in metrics}


def named(report: dict) -> dict:
    """The workload's named end-to-end metrics, each with its unit."""
    out = {}
    for k, v in report.items():
        unit = NAMED_UNITS.get(k)
        if unit is None:
            out[k] = v
        elif isinstance(v, dict):  # a tail: value plus its percentile and n
            out[k] = {**v, "unit": unit}
        else:
            out[k] = {"value": v, "unit": unit}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    check_sources()
    # a terminated run still stops Spark and removes its tables
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from perfbench.stats import median, paired_overhead
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0

        tracer = Tracer(spark)
        tracer.enabled = bool(args.trace)
        ctx = Ctx(args, spark, tracer, work)
        w = WORKLOADS[args.workload](ctx)
        prep = []
        for _ in range(SETUP_REPS[args.workload]):
            t1 = time.perf_counter()
            w.prepare()
            prep.append(time.perf_counter() - t1)
        setup_s = session_s + median(prep)
        if hasattr(w, "check_oracles"):
            w.check_oracles()  # untimed, once per run; also warms the leaves

        noise: list[float] = []
        tracer.enabled = False
        for _ in range(WARMUP_UNITS[args.workload]):
            w.unit(w.next_unit)
            w.next_unit += 1
        ran = run_units(w, ctx, args.seconds, MIN_UNITS[args.workload], noise, bool(args.trace))
        # the end-to-end numbers come from untraced units only
        units = [u for t, u in ran if u and not t]
        if args.trace:
            tracer.install()
            tracer.enabled = True
            with tracer.request("probe-0"):
                probes = w.probes()
            tracer.enabled = False
            tracer.uninstall()
            tracer.finish()
        w.gates()

        attempted = max(1, w.attempted)
        failed = len(w.failures)
        report = w.report(units)
        report["failed_share"] = failed / attempted
        unit_p50 = median(u["unit_s"] for u in units)
        out = {
            "workload": args.workload,
            "seed": args.seed,
            "host": host_facts(),
            "cores": cores,
            "units": len(units),
            "unit_s": [u["unit_s"] for u in units],
            **{f"{k}_s": [u[f"{k}_s"] for u in units] for k in ("write", "maintain", "read")},
            "phases_s": [u.get("phases") for u in units],
            "setup_prepare_s": prep,
            "session_start_s": session_s,
            "noise_probe_s": noise,
            "named_metrics": named(report),
            "failures": list(w.failures.values()),
        }
        if args.trace:
            pairs = [
                (ran[k][1]["unit_s"], ran[k + 1][1]["unit_s"])
                for k in range(0, len(ran) - 1, 2)
                if ran[k][1] and ran[k + 1][1]
            ]
            overhead = paired_overhead(pairs)
            cov = coverage(tracer.spans)
            os.makedirs(os.path.join(base, "out"), exist_ok=True)
            spans_path = os.path.join(base, "out", f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.write(spans_path)
            out.update(
                spans=os.path.relpath(spans_path, ROOT),
                traced_unit_s=[u["unit_s"] for t, u in ran if u and t],
                trace_overhead=overhead,
                coverage_share=cov,
            )
            metrics = {k: 0.0 for k in LAYER_UNITS}
            metrics.update(layer_metrics(tracer.spans))
            metrics.update(probes)
            metrics["session.start_s"] = session_s
            metrics["trace.overhead_s"] = overhead["value"] or 0.0
            metrics["trace.coverage_share"] = cov["unit_p50_s"] or 0.0
            for k in ("write", "maintain", "read"):
                metrics[f"trace.{k}_coverage_share"] = cov[f"{k}_p50_s"] or 0.0
            for k, v in report.items():
                if k in NAMED_UNITS:
                    metrics[f"workload.{k}"] = (v.get("value") if isinstance(v, dict) else v) or 0.0
            units_of = LAYER_UNITS
        else:
            metrics = {"setup_s": setup_s}
            for k in ("unit", "write", "maintain", "read"):
                vals = [u[f"{k}_s"] for u in units if f"{k}_s" in u]
                if vals:
                    metrics[f"{k}_p50_s"] = median(vals)
            units_of = {k: u for k, u in E2E_UNITS.items() if k in metrics}
        correct = failed == 0 and unit_p50 is not None
        print(json.dumps(out, default=str))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": metrics[k] if metrics[k] is not None else 0.0, "unit": units_of[k]} for k in units_of},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
