"""Seeded inputs the benchmark generates for itself: the analytics
tables, the micro-batches of the erasure mix, and the expected scan
digest computed without the engine.

Everything derives from the workload seed through numpy's
``default_rng`` (or the engine-independent synthesizer for the source
table), so the same seed gives the same inputs."""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANG_CHOICES = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
TOMBSTONE = "<shredded>"  # must match pi2spark.verify.TOMBSTONE


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(rng.choice(WORDS, n_words))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents shaped like the ``documents`` test table, with
    planted exact duplicates (1%) and near duplicates (4%, the same
    text with its last word replaced) so both dedup leaves find work."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.05:
            base = texts[int(rng.integers(0, i))].split(" ")
            base[-1] = str(rng.choice(WORDS))
            texts.append(" ".join(base) + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(8, 100))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANG_CHOICES, n, p=LANG_P).tolist()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vals = (rng.standard_normal(n * dim) * 0.125).astype(np.float32)
    offsets = np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(pa.array(offsets), pa.array(vals)),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    day0 = datetime(1995, 1, 2)
    days = rng.integers(0, 2498, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n)),
            "l_partkey": pa.array(rng.integers(0, 20_000, n)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n).tolist()),
            "l_shipdate": pa.array(
                [day0 + timedelta(days=int(d)) for d in days], type=pa.timestamp("us")
            ),
        }
    )


def write_analytics_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int, n_lines: int) -> int:
    """Write the three tables the analytics leaves read; returns their
    total on-disk bytes."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in (
        ("documents", documents(rng, n_docs)),
        ("embeddings", embeddings(rng, n_vecs)),
        ("lineitem", lineitem(rng, n_lines)),
    ):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


def micro_batch(seed: int, batch: int, subjects: list[str], n_rows: int) -> pd.DataFrame:
    """One append micro-batch of source-file rows for live subjects."""
    rng = np.random.default_rng([seed, 11, batch])
    repos = rng.choice(subjects, n_rows)
    langs = rng.choice(["python", "java", "go", "rust"], n_rows)
    lens = rng.integers(4, 400, n_rows)
    return pd.DataFrame(
        {
            "repo": repos,
            "path": [f"appended/b{batch}/f{i}.{lg}" for i, lg in enumerate(langs)],
            "commit": [f"{batch:08x}{i:08x}{int(v):024x}"[:40] for i, v in enumerate(rng.integers(0, 2**62, n_rows))],
            "lang": langs,
            "content": [f"// batch {batch} row {i}\n" + _text(rng, int(k)) for i, k in enumerate(lens)],
        }
    )


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def expected_digest(rows, erased: set[str]) -> str:
    """``pi2spark.verify.content_digest`` recomputed in plain Python
    from the generated rows: ``rows`` are ``(repo, path, commit,
    sha256(content))``; rows of ``erased`` subjects count as
    tombstones."""
    tomb = sha256_hex(TOMBSTONE)
    a = b = n = 0
    for repo, path, commit, content_sha in rows:
        c = tomb if repo in erased else content_sha
        h = sha256_hex("\x1f".join((repo, path, commit, c)))
        a += int(h[0:15], 16)
        b += int(h[16:31], 16)
        n += 1
    return f"{a}-{b}-{n}"
