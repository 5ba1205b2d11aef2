"""Benchmark harness: the headline maintenance-throughput job.

Per BASELINE.md protocol: deterministically synthesize the
(repo,path,commit,lang,content) source table at the target SF as many
small files, then wall-clock the maintenance passes only (synthesis
and key registration excluded):

    encrypt-append -> bin-pack compact -> Z-order cluster ->
    crypto-shred (1 rare subject + 1 mid subject) -> snapshot expire ->
    verification scan (sha256 digest)

plus representative analytics operators on the driver-provided tables
($SPARK_GRAFT_SF_DIR). Prints ONE JSON line:
  {"metric": ..., "value": <total_sec>, "unit": "sec",
   "queries": {phase/query: sec, ...}, "sf": ...,
   "gb_per_hr": ..., "files_per_sec": ..., ...}

NOISE METHODOLOGY (BENCH/BASELINE.md "host noise"): this sandbox host
shows 3-5x run-to-run swings on identical Spark jobs (documented
hypervisor syscall stalls). A single-trial bench is therefore a noise
lottery. The harness runs the FULL maintenance chain ``BENCH_TRIALS``
times (default 5) on fresh tables with identical deterministic input,
asserts the verification digest is identical across trials, and
reports the per-phase MINIMUM — the only estimator that survives the
documented stall pattern (stalls inflate, they never deflate). All
trials are included in the JSON (``trials`` field) so a stalled trial
is visible, not hidden — and each trial is preceded by a HOST-NOISE
PROBE (a fixed CPU+tmpfs-write workload whose wall time indexes the
hypervisor stall state; ~0.1 s quiet, 10-100x inflated inside a stall
window), reported alongside the trial so a reader can see which
trials ran on a contaminated window without trusting any narrative.

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default all cores), BENCH_ROWS (override row count),
BENCH_TRIALS (default 5), BENCH_SKIP_ANALYTICS.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

MAINT_PHASES = ["encrypt_append", "compact", "zorder", "shred", "expire", "verify_scan"]


def _noise_probe() -> float:
    """Host-noise index: wall time of a fixed CPU + tmpfs-syscall
    workload (32 x 1 MiB /dev/shm writes + sha256 over 32 KiB). The
    documented host pathology is threads stalling inside tmpfs write()
    syscalls; this probe sits exactly on that path. Quiet host ~0.1 s;
    a stall window inflates it by 1-2 orders of magnitude."""
    import hashlib

    t0 = time.time()
    buf = b"\x5a" * (1 << 20)
    d = hashlib.sha256()
    for i in range(32):
        p = f"/dev/shm/pi2spark-probe-{os.getpid()}-{i}"
        with open(p, "wb") as fh:
            fh.write(buf)
        d.update(buf[:1024])
        try:
            os.remove(p)
        except OSError:
            pass
    return time.time() - t0


def main() -> None:
    import shutil as _shutil

    root_holder: list[str] = []
    try:
        _main(root_holder)
    finally:
        # a crashed bench must not leak a multi-GB working table
        for r in root_holder:
            _shutil.rmtree(r, ignore_errors=True)


def _run_chain(spark, root: str, plain, n_rows: int) -> tuple[dict, dict]:
    """One full maintenance chain on a fresh table at ``root``.
    Returns (per-phase timings, meta: digest/files/bytes)."""
    from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
    from pi2spark.maintenance import cluster, compact, expire_snapshots
    from pi2spark.maintenance import shred as shred_pass
    from pi2spark.registry import KeyRegistry
    from pi2spark.spec import ProtectionSpec
    from pi2spark.table import Table
    from pi2spark.verify import content_digest

    timings: dict[str, float] = {}
    spec = ProtectionSpec.for_source_files()
    reg = KeyRegistry(os.path.join(root, "kms.jsonl"))
    reg.register_from_df(plain.select("repo").distinct())
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(os.path.join(root, "tbl"))

    t0 = time.time()
    t.append(encrypt_table(plain, spec, keys), spark)
    timings["encrypt_append"] = time.time() - t0
    snap1 = t.snapshot()
    input_bytes = sum(f.bytes for f in snap1.files)
    input_files = len(snap1.files)

    # file sizing is a property of the TABLE, not of the parallelism
    # level — identical plan at any core count (same bins, same output
    # file count). ~64 rewrite groups gives every level >=2 waves of
    # work; floor at 8 MiB.
    target_bytes = int(os.environ.get("BENCH_TARGET_BYTES", "0")) or max(
        input_bytes // 64, 8 << 20
    )

    t0 = time.time()
    rc = compact(t, spark, target_file_bytes=target_bytes)
    timings["compact"] = time.time() - t0

    t0 = time.time()
    rz = cluster(t, spark, curve="morton", target_file_bytes=target_bytes, bits=16)
    timings["zorder"] = time.time() - t0

    # shred one rare subject and one mid-size subject (deterministic
    # given the deterministic synthesis)
    counts = t.scan(spark).groupBy("repo").count().orderBy("count", "repo").collect()
    rare = counts[0]["repo"]
    mid = counts[len(counts) // 2]["repo"]
    t0 = time.time()
    reg.forget(rare)
    reg.forget(mid)
    rs = shred_pass(t, spark, [rare, mid], target_file_bytes=target_bytes)
    timings["shred"] = time.time() - t0

    t0 = time.time()
    expire_snapshots(t, keep_last=1)
    timings["expire"] = time.time() - t0

    t0 = time.time()
    keys2 = broadcast_keys(spark, reg.key_map())
    digest = content_digest(decrypt_table(t.scan(spark), spec, keys2))
    timings["verify_scan"] = time.time() - t0

    meta = {
        "digest": digest,
        "input_files": input_files,
        "input_bytes": input_bytes,
        "files_rewritten": input_files + rc.rewritten_files + rz.rewritten_files + rs.rewritten_files,
        "bytes_moved": input_bytes + rc.rewritten_bytes + rz.rewritten_bytes + rs.rewritten_bytes,
    }
    return timings, meta


def _main(root_holder: list) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    trials = max(1, int(os.environ.get("BENCH_TRIALS", "5")))
    sf = _sf_from_dir(sf_dir)
    n_rows = int(os.environ.get("BENCH_ROWS", "0")) or max(2000, int(sf * 1_000_000))

    from pi2spark.session import get_spark
    from pi2spark.synth import synthesize_source_files

    spark = get_spark("pi2spark-bench", cores=cpus)

    # ---- setup (NOT timed in the headline number) ----
    # many small files on purpose: ~500 rows per input file
    n_small_files = max(8, n_rows // 500)
    plain = synthesize_source_files(
        spark, n_rows, seed=42, partitions=n_small_files, max_len=50_000
    ).cache()
    plain.count()  # materialize: synthesis cost must not leak into the timings

    # warm the Python UDF worker pool (cluster-startup cost, excluded
    # from steady-state throughput like any cold-start)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(0, cpus * 4, numPartitions=cpus).select(_warm("id")).count()

    # ---- maintenance chain x trials (timed; per-phase minima) ----
    all_trials: list[dict] = []
    noise_probes: list[float] = []
    meta = None
    for i in range(trials):
        noise_probes.append(round(_noise_probe(), 3))
        root = tempfile.mkdtemp(prefix=f"pi2spark-bench-t{i}-")
        root_holder.append(root)
        trial_timings, trial_meta = _run_chain(spark, root, plain, n_rows)
        shutil.rmtree(root, ignore_errors=True)
        all_trials.append(trial_timings)
        if meta is None:
            meta = trial_meta
        elif trial_meta["digest"] != meta["digest"]:
            # correctness gate: a trial that produced different data is
            # a BUG, not noise — refuse to report a number
            raise SystemExit(
                f"digest mismatch across trials: {trial_meta['digest']} != {meta['digest']}"
            )
    plain.unpersist()

    timings = {p: min(tr[p] for tr in all_trials) for p in MAINT_PHASES}
    maint_sec = sum(timings.values())

    # ---- analytics operators on the provided tables (timed per query) ----
    analytics_trials: dict[str, list[float]] = {}
    if not os.environ.get("BENCH_SKIP_ANALYTICS"):
        import __spark_entry__ as entrymod

        analytics = [
            "pricing_summary",
            "exact_dedup",
            "minhash_dedup",
            "ann_topk",
            "quality_scores",
            "zorder_morton",
        ]
        qs = entrymod.queries()
        n_q_trials = max(2, trials)
        # interleave: pass 0 over all queries, then pass 1, ... so a
        # single stall window cannot define more than one query's trial
        for ti in range(n_q_trials):
            for name in analytics:
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                analytics_trials.setdefault(name, []).append(time.time() - t0)
        for name, ts in analytics_trials.items():
            timings[f"q_{name}"] = min(ts)

    out = {
        "metric": "maintenance throughput (compact+zorder+shred+expire) over SF source-code table",
        "value": round(maint_sec, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "rows": n_rows,
        "input_files": meta["input_files"],
        "input_gb": round(meta["input_bytes"] / 1e9, 4),
        "gb_per_hr": round((meta["bytes_moved"] / 1e9) / (maint_sec / 3600.0), 2),
        "files_per_sec": round(meta["files_rewritten"] / maint_sec, 2),
        "cpus": cpus,
        "scan_digest": meta["digest"],
        "total_sec": round(sum(timings.values()), 3),
        "bench_trials": trials,
        "trials": {
            "maintenance": [
                {p: round(tr[p], 3) for p in MAINT_PHASES} for tr in all_trials
            ],
            "analytics": {k: [round(x, 3) for x in v] for k, v in analytics_trials.items()},
            "noise_probe_sec": noise_probes,
        },
    }
    print(json.dumps(out))


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return 0.1


if __name__ == "__main__":
    main()
