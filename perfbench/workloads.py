"""The three workloads. Each is a closed loop with one client: the next
unit of work starts only after the previous one returned.

- ``bulk_chain``: unit = one maintenance chain on a fresh table,
  encrypt_append -> compact -> cluster (Morton, 16 bits) -> shred (2
  subjects) -> expire_snapshots -> decrypted ``content_digest`` scan,
  with broadcast key delivery.
- ``erasure_mix``: unit = one cycle of GDPR requests on a table that
  setup compacted and clustered: erase (``forget`` + ``shred`` of one
  subject), access (subject-filtered scan + decrypt, collected) and
  append (a micro-batch through ``df.write.format("pi2spark")``), with
  ``expire_snapshots`` every ``EXPIRE_EVERY`` requests. Keys travel as
  the keyed join (``KeyRegistry.key_df``).
- ``analytics``: unit = one pass over six ``__spark_entry__.queries()``
  leaves on generated tables (sized from ``--rows``, see
  ``analytics_sizes``), each written to a ``noop`` sink.

A workload object exposes ``prepare()`` (setup, timed into
``setup_s``), ``unit(i)`` (one unit of work; returns its timings, or
``{}`` when it failed), ``gates()`` (end-of-run correctness checks),
``report(units)`` (the named end-to-end metrics over the measured
units) and ``probes()`` (extra layer timings for the traced run).
Every unit returns ``unit_s`` and the classes the two maintenance
workloads share: ``write_s``, ``maintain_s`` and ``read_s``.

Engine functions are imported inside the methods, at call time: the
traced run installs its wrappers after setup, and a name bound at
import time here would keep calling the unwrapped function."""

from __future__ import annotations

import os
import shutil
import time

from perfbench import data
from perfbench.stats import erase_write_amp, median, tail, write_amp

# bench.py's chain digest at its own shape: 100k rows, max_len 50000, seed 42
REFERENCE_DIGESTS = {
    (42, 100_000, 50_000): "57463838572782583254620-57610545169283792001736-100000",
}
# every third cycle: traced and untraced cycles alternate, so a period
# of an even number of cycles would put every expiry on the same side
EXPIRE_EVERY = 9
APPEND_ROWS = 500
ANALYTICS = ["pricing_summary", "exact_dedup", "minhash_dedup", "ann_topk", "quality_scores", "zorder_morton"]
LEAF_LAYER = {
    "pricing_summary": "sql.pricing_summary",
    "zorder_morton": "sql.zorder_morton",
    "exact_dedup": "textops.exact_dedup",
    "minhash_dedup": "textops.minhash_dedup",
    "quality_scores": "textops.quality_scores",
    "ann_topk": "vectorops.ann_topk",
}


def analytics_sizes(rows: int) -> tuple[int, int, int]:
    """Rows of the generated ``documents``, ``embeddings`` and
    ``lineitem`` tables for a ``rows``-row run: 1,500, 2,000 and 150,000
    at the default 20,000."""
    return rows * 3 // 40, rows // 10, rows * 15 // 2


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared plumbing: the run context, gate bookkeeping and timers."""

    # the runner traces each unit as one request; the erasure mix
    # traces each of its requests itself
    unit_is_request = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.seed = ctx.seed
        self.attempted = 0
        self.next_unit = 0  # index of the next unit; the runner advances it
        # operation label -> first failure message; an operation that
        # fails several gates still counts once against ``attempted``
        self.failures: dict[str, str] = {}

    def gate(self, ok: bool, label: str, what: str = "") -> None:
        """A failed gate counts as a failed operation; never dropped."""
        if not ok:
            self.failures.setdefault(label, f"{label}: {what}")

    def timed(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            return out, time.perf_counter() - t0

    def op(self, name: str, fn, *args, **kwargs):
        """One request of the closed loop: counted as attempted; an
        exception counts as failed and is recorded."""
        self.attempted += 1
        try:
            return self.timed(name, fn, *args, **kwargs)
        except Exception as e:  # noqa: BLE001 — a failed request is data
            self.gate(False, f"{name} #{self.attempted}", f"{type(e).__name__}: {str(e).splitlines()[0][:200]}")
            return None, None

    def gates(self) -> None:
        pass

    def probes(self) -> dict:
        return {}


# ---------------------------------------------------------------------------


class BulkChain(Workload):
    name = "bulk_chain"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.digests: set[str] = set()

    def prepare(self):
        from pyspark.sql import functions as F

        from pi2spark.synth import synthesize_source_files

        ctx = self.ctx
        with self.tracer.span("synth.generate"):
            plain = synthesize_source_files(
                self.spark, ctx.rows, seed=self.seed,
                partitions=max(8, ctx.rows // 500), max_len=ctx.max_len,
            ).cache()
            rows = plain.select(
                "repo", "path", "commit", F.sha2("content", 256).alias("h"),
                sum(F.octet_length(c) for c in ("repo", "path", "commit", "lang", "content")).alias("b"),
            ).collect()
        if getattr(self, "plain", None) is not None:
            self.plain.unpersist()
        self.plain = plain
        self.rows = [(r[0], r[1], r[2], r[3]) for r in rows]
        self.plain_bytes = sum(r[4] for r in rows)
        counts: dict[str, int] = {}
        for r in self.rows:
            counts[r[0]] = counts.get(r[0], 0) + 1
        # bench.py's choice: the rarest subject and the median one
        ranked = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))
        self.subjects = sorted(counts)
        self.victims = [ranked[0][0], ranked[len(ranked) // 2][0]]
        self.expected = data.expected_digest(self.rows, set(self.victims))

    def unit(self, i: int) -> dict:
        from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
        from pi2spark.maintenance import cluster, compact, expire_snapshots, shred
        from pi2spark.registry import KeyRegistry
        from pi2spark.spec import ProtectionSpec
        from pi2spark.table import Table
        from pi2spark.verify import content_digest

        spark = self.spark
        root = os.path.join(self.ctx.work, f"chain-{i}")
        os.makedirs(root, exist_ok=True)
        spec = ProtectionSpec.for_source_files()
        reg = KeyRegistry(os.path.join(root, "kms.jsonl"))
        reg.register_all(self.subjects)
        t = Table.create(os.path.join(root, "tbl"))
        ph: dict[str, float] = {}
        self.attempted += 1
        try:
            keys = broadcast_keys(spark, reg.key_map())
            _, ph["ingest"] = self.timed(
                "chain.ingest", lambda: t.append(encrypt_table(self.plain, spec, keys), spark)
            )
            with self.tracer.quiet():
                in_bytes = sum(f.bytes for f in t.snapshot().files)
            target = max(in_bytes // 16, 1 << 20)
            _, ph["compact"] = self.timed("chain.compact", compact, t, spark, target_file_bytes=target)
            _, ph["cluster"] = self.timed(
                "chain.cluster", cluster, t, spark, curve="morton", target_file_bytes=target, bits=16
            )

            def erase():
                for s in self.victims:
                    reg.forget(s)
                return shred(t, spark, self.victims, target_file_bytes=target)

            _, ph["shred"] = self.timed("chain.shred", erase)
            # every data file the chain wrote is still referenced by some
            # snapshot until expiry runs
            with self.tracer.quiet():
                written = {f.path: f.bytes for s in t.snapshots() for f in t.snapshot(s["snapshot_id"]).files}
            _, ph["expire"] = self.timed("chain.expire", expire_snapshots, t, keep_last=1)

            def verify():
                return content_digest(decrypt_table(t.scan(spark), spec, broadcast_keys(spark, reg.key_map())))

            digest, ph["verify_scan"] = self.timed("chain.verify_scan", verify)
        except Exception as e:  # noqa: BLE001 — a failed chain is data
            self.gate(False, f"chain {i}", f"{type(e).__name__}: {str(e).splitlines()[0][:200]}")
            shutil.rmtree(root, ignore_errors=True)
            return {}
        shutil.rmtree(root, ignore_errors=True)
        self.gate(digest == self.expected, f"chain {i}", f"digest {digest} != generated {self.expected}")
        ref = REFERENCE_DIGESTS.get((self.seed, self.ctx.rows, self.ctx.max_len))
        if ref is not None:
            self.gate(digest == ref, f"chain {i}", f"digest {digest} != reference {ref}")
        self.digests.add(digest)
        self.gate(len(self.digests) == 1, f"chain {i}", "digest differs across chains")
        write, read = ph["ingest"], ph["verify_scan"]
        maintain = ph["compact"] + ph["cluster"] + ph["shred"] + ph["expire"]
        return {
            "unit_s": write + maintain + read,
            "write_s": write,
            "maintain_s": maintain,
            "read_s": read,
            "write_amp": write_amp(sum(written.values()), self.plain_bytes),
            "phases": ph,
        }

    def report(self, units: list[dict]) -> dict:
        return {
            "ingest_s": median(u["write_s"] for u in units),
            "maintain_s": median(u["maintain_s"] for u in units),
            "verify_scan_s": median(u["read_s"] for u in units),
            "write_amp": median(u["write_amp"] for u in units),
            "chains": len(units),
            "rows": self.ctx.rows,
            "plaintext_bytes": self.plain_bytes,
        }

    def probes(self) -> dict:
        """Noop-sink timings of the crypto kernel and the cluster key on
        the full batch (traced run only)."""
        from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
        from pi2spark.registry import KeyRegistry
        from pi2spark.spec import ProtectionSpec
        from pi2spark.table import Table
        from pi2spark.zorder import column_boundaries_from_stats, with_cluster_key

        spark = self.spark
        spec = ProtectionSpec.for_source_files()
        root = os.path.join(self.ctx.work, "probe")
        reg = KeyRegistry()
        reg.register_all(self.subjects)
        keys = broadcast_keys(spark, reg.key_map())
        out = {}
        _, out["crypto.encrypt_s"] = self.timed("probe.encrypt", noop, encrypt_table(self.plain, spec, keys))
        out["crypto.encrypt_mb_per_s"] = self.plain_bytes / 1e6 / out["crypto.encrypt_s"]
        t = Table.create(os.path.join(root, "tbl"))
        t.append(encrypt_table(self.plain, spec, keys), spark)
        _, out["crypto.decrypt_s"] = self.timed("probe.decrypt", noop, decrypt_table(t.scan(spark), spec, keys))
        files = t.snapshot().files
        b = column_boundaries_from_stats(files, ["repo", "lang", "path"], bits=16)
        _, out["zorder.key_s"] = self.timed(
            "probe.zkey", noop, with_cluster_key(t.scan(spark), ["repo", "lang", "path"], bits=16, boundaries=b)
        )
        shutil.rmtree(root, ignore_errors=True)
        # the analytics leaves ride on the traced bulk run: oracle gate,
        # then one timed pass in a request of its own (their layer spans
        # are the leaf spans)
        an = Analytics(self.ctx)
        an.prepare()
        an.check_oracles()
        with self.tracer.request("analytics-0"):
            u = an.unit(0)
        self.attempted += an.attempted
        self.failures.update(an.failures)
        out["workload.analytics_pass_s"] = u.get("unit_s", 0.0)
        return out


# ---------------------------------------------------------------------------


class ErasureMix(Workload):
    name = "erasure_mix"
    unit_is_request = False

    def __init__(self, ctx):
        super().__init__(ctx)
        self.requests = 0
        self.fp: list[tuple[int, int]] = []  # (planned, planned-but-empty)

    def prepare(self):
        import numpy as np
        from pyspark.sql import functions as F

        from pi2spark import datasource
        from pi2spark.crypto import encrypt_table
        from pi2spark.maintenance import cluster, compact
        from pi2spark.registry import KeyRegistry
        from pi2spark.spec import ProtectionSpec
        from pi2spark.synth import synthesize_source_files
        from pi2spark.table import Table

        ctx, spark = self.ctx, self.spark
        datasource.register(spark)
        if getattr(self, "root", None):
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(ctx.work, f"mix-{time.perf_counter_ns()}")
        os.makedirs(self.root)
        with self.tracer.span("synth.generate"):
            plain = synthesize_source_files(
                spark, ctx.rows, seed=self.seed, partitions=max(8, ctx.rows // 500), max_len=ctx.max_len
            ).cache()
            rows = plain.select(
                "repo", "path", "commit", F.sha2("content", 256), F.octet_length("content")
            ).collect()
        self.expected: dict[str, list[tuple[str, str, str]]] = {}
        self.subject_bytes: dict[str, int] = {}
        for repo, path, commit, h, nb in rows:
            self.expected.setdefault(repo, []).append((path, commit, h))
            self.subject_bytes[repo] = self.subject_bytes.get(repo, 0) + nb
        self.spec = ProtectionSpec.for_source_files()
        self.reg = KeyRegistry(os.path.join(self.root, "kms.jsonl"))
        self.reg.register_all(sorted(self.expected))
        self.t = Table.create(os.path.join(self.root, "tbl"))
        self.t.append(encrypt_table(plain, self.spec, self.reg.key_df(spark)), spark)
        in_bytes = sum(f.bytes for f in self.t.snapshot().files)
        # ~64 files, as bench.py's sizing gives the 100k-row table
        self.target = max(in_bytes // 64, 64 << 10)
        compact(self.t, spark, target_file_bytes=self.target)
        cluster(self.t, spark, curve="morton", target_file_bytes=self.target, bits=16)
        plain.unpersist()
        rng = np.random.default_rng([self.seed, 3])
        live = sorted(s for s in self.expected if s != "org0/megarepo")
        self.erase_order = [live[k] for k in rng.permutation(len(live))]
        self.rng = rng
        self.erased: list[str] = []
        self.live = set(live)

    # -- the three requests --

    def _erase(self, s: str):
        from pi2spark.maintenance import shred

        self.reg.forget(s)
        return shred(self.t, self.spark, [s], target_file_bytes=self.target)

    def _access(self, s: str):
        from pyspark.sql import functions as F

        from pi2spark.crypto import decrypt_table
        from pi2spark.table import ColumnPredicate

        df = self.t.scan(self.spark, filters=[ColumnPredicate("repo", "eq", s)]).filter(F.col("repo") == s)
        return (
            decrypt_table(df, self.spec, self.reg.key_df(self.spark))
            .select("path", "commit", "content", "shredded")
            .collect()
        )

    def _append(self, sdf):
        from pi2spark.crypto import encrypt_table

        enc = encrypt_table(sdf, self.spec, self.reg.key_df(self.spark))
        # the data-source layer is the save call; the writer's commit
        # runs in a PySpark worker process, out of the tracer's sight
        with self.tracer.span("datasource.append"):
            enc.write.format("pi2spark").mode("append").save(self.t.root)

    def _holders(self, s: str) -> tuple[int, int]:
        """(files planned for subject ``s``, planned files holding none
        of its rows) — the bloom/stats false-positive count."""
        from pyspark.sql import functions as F

        from pi2spark.table import ColumnPredicate

        with self.tracer.quiet():
            _, planned = self.t.plan_files(filters=[ColumnPredicate("repo", "eq", s)])
            if not planned:
                return 0, 0
            df = self.t.scan(self.spark, filters=[ColumnPredicate("repo", "eq", s)])
            real = df.filter(F.col("repo") == s).select(F.input_file_name()).distinct().collect()
            real_names = {os.path.basename(r[0]) for r in real}
            return len(planned), sum(1 for f in planned if os.path.basename(f.path) not in real_names)

    def _request_done(self) -> float:
        """Count a request; every ``EXPIRE_EVERY`` requests run expiry
        (its time belongs to the cycle that triggered it)."""
        from pi2spark.maintenance import expire_snapshots

        self.requests += 1
        if self.requests % EXPIRE_EVERY:
            return 0.0
        with self.tracer.request(f"expire-{self.requests}"):
            _, dt = self.op("mix.expire", expire_snapshots, self.t, keep_last=1)
        return dt

    def unit(self, i: int) -> dict:
        ph: dict = {"expire": 0.0}
        # erase
        s = self.erase_order[i % len(self.erase_order)]
        if self.tracer.enabled:
            self.fp.append(self._holders(s))
        with self.tracer.quiet():
            before = {f.path for f in self.t.snapshot().files}
        with self.tracer.request(f"erase-{i}"):
            res, ph["erase"] = self.op("mix.erase", self._erase, s)
        if res is not None:
            with self.tracer.quiet():
                after = self.t.snapshot().files
            written = sum(f.bytes for f in after if f.path not in before)
            ph["erase_bytes"] = (written, self.subject_bytes[s])
            self.gate(not res.skipped and res.rewritten_files >= 1, f"erase {s}", "no file rewritten")
            self.erased.append(s)
            self.live.discard(s)
        ph["expire"] += self._request_done() or 0.0
        # access
        a = sorted(self.live)[int(self.rng.integers(0, len(self.live)))]
        if self.tracer.enabled:
            self.fp.append(self._holders(a))
        with self.tracer.request(f"access-{i}"):
            rows, ph["access"] = self.op("mix.access", self._access, a)
        if rows is not None:
            got = sorted((r["path"], r["commit"], data.sha256_hex(r["content"])) for r in rows if not r["shredded"])
            self.gate(
                len(got) == len(rows) and got == sorted(self.expected[a]),
                f"access {i}",
                f"{a}: {len(rows)} rows read, {len(self.expected[a])} generated, or content differs",
            )
        ph["expire"] += self._request_done() or 0.0
        # append
        subs = sorted(self.live)
        pdf = data.micro_batch(self.seed, i, [subs[k] for k in self.rng.integers(0, len(subs), 8)], APPEND_ROWS)
        sdf = self.spark.createDataFrame(pdf, "repo string, path string, commit string, lang string, content string")
        with self.tracer.quiet():
            rows_before = sum(f.rows for f in self.t.snapshot().files)
        with self.tracer.request(f"append-{i}"):
            _, ph["append"] = self.op("mix.append", self._append, sdf)
        if ph["append"] is not None:
            with self.tracer.quiet():
                rows_after = sum(f.rows for f in self.t.snapshot().files)
            self.gate(rows_after == rows_before + APPEND_ROWS, f"append {i}", f"{rows_after - rows_before} rows visible")
            for r in pdf.itertuples(index=False):
                self.expected[r.repo].append((r.path, r.commit, data.sha256_hex(r.content)))
                self.subject_bytes[r.repo] += len(r.content.encode("utf-8"))
        ph["expire"] += self._request_done() or 0.0
        if any(ph[k] is None for k in ("erase", "access", "append", "expire")):
            return {}
        ph["unit_s"] = ph["erase"] + ph["access"] + ph["append"] + ph["expire"]
        ph["write_s"], ph["maintain_s"], ph["read_s"] = ph["append"], ph["erase"], ph["access"]
        # for the report line: the cycle's request times and the erase's size
        ph["phases"] = {
            **{k: ph[k] for k in ("erase", "access", "append", "expire")},
            "erase_files": res.rewritten_files,
            "erase_rows": len(self.expected[s]),
        }
        return ph

    def gates(self) -> None:
        """Every erased subject reads back only as tombstones."""
        from pyspark.sql import functions as F

        from pi2spark.crypto import decrypt_table
        from pi2spark.table import ColumnPredicate

        if not self.erased:
            return
        df = self.t.scan(self.spark, filters=[ColumnPredicate("repo", "in", values=tuple(self.erased))])
        df = df.filter(F.col("repo").isin(self.erased))
        out = decrypt_table(df, self.spec, self.reg.key_df(self.spark)).groupBy("repo").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("content").isNull() & F.col("shredded"), 1).otherwise(0)).alias("tomb"),
        ).collect()
        seen = {r["repo"]: (r["n"], r["tomb"]) for r in out}
        for s in self.erased:
            n, tomb = seen.get(s, (0, 0))
            want = len(self.expected[s])
            self.gate(n == want and tomb == want, f"erase {s}", f"{tomb}/{n} tombstones, {want} rows expected")

    def report(self, units: list[dict]) -> dict:
        erase = [u["erase"] for u in units]
        access = [u["access"] for u in units]
        return {
            "erase_p50_s": median(erase),
            "erase_tail_s": tail(erase),
            "erase_write_amp": erase_write_amp([u["erase_bytes"] for u in units]) if units else None,
            "access_p50_s": median(access),
            "access_tail_s": tail(access),
            "append_p50_s": median(u["append"] for u in units),
            "files_live": len(self.t.snapshot().files),
            "rows": self.ctx.rows,
        }

    def probes(self) -> dict:
        from pi2spark.crypto import decrypt_table
        from pi2spark.table import ColumnPredicate

        a = sorted(self.live)[0]
        df = self.t.scan(self.spark, filters=[ColumnPredicate("repo", "eq", a)])
        _, dec = self.timed("probe.decrypt", noop, decrypt_table(df, self.spec, self.reg.key_df(self.spark)))
        planned = sum(p for p, _ in self.fp)
        return {
            "crypto.decrypt_s": dec,
            "bloom.fp_share": (sum(e for _, e in self.fp) / planned) if planned else 0.0,
            "table.snapshots_live": len(self.t.snapshots()),
        }


# ---------------------------------------------------------------------------


class Analytics(Workload):
    name = "analytics"

    def prepare(self):
        import __spark_entry__ as entry

        self.qs = entry.queries()
        self.dir = os.path.join(self.ctx.work, "analytics")
        with self.tracer.span("synth.generate"):
            self.bytes = data.write_analytics_tables(self.dir, self.seed, *analytics_sizes(self.ctx.rows))

    def check_oracles(self) -> None:
        """Once per run, untimed: each leaf's value hash against its
        DuckDB ``oracle_sql()`` (rows-only where none exists), the way
        ``tools/check_contract.py`` checks it."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_contract import value_hash

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        for name in ANALYTICS:
            self.attempted += 1
            try:
                df = self.qs[name](self.spark, self.dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:  # noqa: BLE001
                self.gate(False, f"oracle {name}", f"spark error {type(e).__name__}: {str(e).splitlines()[0][:200]}")
                continue
            if name not in oracles:
                self.gate(len(rows) > 0, f"oracle {name}", "no rows")
                continue
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            self.gate(len(rows) == len(orows), f"oracle {name}", f"{len(rows)} rows vs {len(orows)}")
            self.gate(sorted(cols) == sorted(ocols), f"oracle {name}", f"columns {cols} vs {ocols}")
            self.gate(value_hash(rows, cols) == value_hash(orows, ocols), f"oracle {name}", "value hash differs")
        con.close()

    def unit(self, i: int) -> dict:
        ph: dict[str, float] = {}
        for name in ANALYTICS:
            _, ph[name] = self.op(LEAF_LAYER[name], lambda n=name: noop(self.qs[n](self.spark, self.dir)))
            if ph[name] is None:
                return {}
        ph["unit_s"] = ph["read_s"] = sum(ph.values())
        return ph

    def report(self, units: list[dict]) -> dict:
        return {
            "analytics_pass_s": median(u["unit_s"] for u in units),
            "passes": len(units),
            "input_bytes": self.bytes,
            **{f"{n}_s": median(u[n] for u in units) for n in ANALYTICS},
        }


WORKLOADS = {w.name: w for w in (BulkChain, ErasureMix, Analytics)}
