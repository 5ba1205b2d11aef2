"""Crash-resume of every copy-on-write rewrite pass across a disjoint
append.

Each case crashes the pass after its waves are recorded in the ledger
and before the table commit, appends new rows (whose data directory
sorts first, so every path-ordered wave plan shifts), then reruns the
pass with the same ``pass_id``. The oracle is the same pass run cleanly
on a copy of the post-append table: the decrypted scans must have the
same content digest, no row key may appear twice, and the resume must
rewrite as many files into as many outputs."""

import shutil
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import pi2spark.maintenance as M
import pi2spark.table
from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
from pi2spark.registry import KeyRegistry
from pi2spark.spec import ProtectionSpec
from pi2spark.table import ColumnPredicate, Table
from pi2spark.verify import content_digest

SPEC = ProtectionSpec.for_source_files()
SUBJECTS = ["s0", "s1", "s2", "s3"]
VICTIM = "s0"
DIGEST_COLS = ("repo", "path", "commit", "lang")


def _rows(spark, tag, n):
    return spark.createDataFrame([
        Row(repo=SUBJECTS[i % len(SUBJECTS)], path=f"src/{tag}/f{i}.py",
            commit=f"{tag}-{i:06d}", lang="python", content=f"{tag}-{i}-" + "x" * 200)
        for i in range(n)
    ])


def _compact(t, spark, reg, pid):
    return M.compact(t, spark, target_file_bytes=1 << 20, pass_id=pid)


def _cluster(t, spark, reg, pid):
    return M.cluster(t, spark, target_file_bytes=16 << 10, pass_id=pid)


def _shred(t, spark, reg, pid):
    return M.shred(t, spark, [VICTIM], pass_id=pid)


def _merge(t, spark, reg, pid):
    # one source key updates a base row, the other only exists in the
    # appended rows: applied to the post-append table it is an update,
    # not an insert
    src = spark.createDataFrame(
        [("base-000004", "merged"), ("new-000000", "merged")], "commit string, lang string"
    )
    return M.merge_into(t, spark, src, on="commit", pass_id=pid)


def _delete(t, spark, reg, pid):
    return M.delete_where(t, spark, [ColumnPredicate("repo", "eq", VICTIM)], pass_id=pid)


def _update(t, spark, reg, pid):
    return M.update_where(
        t, spark, [ColumnPredicate("repo", "eq", VICTIM)], {"lang": "'updated'"}, pass_id=pid
    )


def _reencrypt(t, spark, reg, pid):
    keys = broadcast_keys(spark, reg.key_map_versioned())
    return M.reencrypt(t, spark, keys, [VICTIM], pass_id=pid)


CASES = {
    "compact": (_compact, "compact"),
    "cluster-shuffle": (_cluster, "morton"),
    "cluster-merge": (_cluster, "morton"),
    "shred": (_shred, "shred"),
    "merge_into-broadcast": (_merge, "merge"),
    "delete_where": (_delete, "delete"),
    "update_where": (_update, "update"),
    "reencrypt": (_reencrypt, "reencrypt"),
}


@pytest.mark.parametrize("case", list(CASES))
def test_resume_after_disjoint_append(spark, tmp_path, monkeypatch, case):
    run, operation = CASES[case]
    monkeypatch.setattr(M, "DEFAULT_WAVE_FILES", 2)  # several waves per pass
    reg = KeyRegistry(str(tmp_path / "kms.jsonl"))
    reg.register_all(SUBJECTS)
    keys = broadcast_keys(spark, reg.key_map())
    t = Table.create(str(tmp_path / "tbl"))
    t.append(encrypt_table(_rows(spark, "base", 400).repartition(4), SPEC, keys), spark)
    # sealed now, while every subject's first material is live
    extra = encrypt_table(_rows(spark, "new", 40).coalesce(1), SPEC, keys)
    if case == "cluster-merge":
        M.cluster(t, spark, target_file_bytes=32 << 10)  # the pass re-packs it at 16 KiB
        # zkeys below every clustered file: the append joins the merge
        # path's ordering at its front
        extra = extra.withColumn("zkey", F.lit(-1_000_000).cast("long") - F.length("path"))
    if case == "shred":
        reg.forget(VICTIM)
    if case == "reencrypt":
        reg.rotate(VICTIM)

    def crash(*a, **kw):
        raise RuntimeError("simulated crash before commit")

    real_commit = Table.commit_with_retry
    monkeypatch.setattr(Table, "commit_with_retry", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run(t, spark, reg, "resumed")
    monkeypatch.setattr(Table, "commit_with_retry", real_commit)
    assert M.PassLedger(t.root, "resumed").completed_tasks()

    first = iter([uuid.UUID(int=0)])
    real_uuid4 = uuid.uuid4
    monkeypatch.setattr(pi2spark.table.uuid, "uuid4", lambda: next(first, None) or real_uuid4())
    t.append(extra, spark)
    monkeypatch.setattr(pi2spark.table.uuid, "uuid4", real_uuid4)
    assert any(f.path.startswith("data/append-000000000000") for f in t.snapshot().files)

    copy = Table.load(shutil.copytree(t.root, str(tmp_path / "copy")))
    clean = run(copy, spark, reg, "clean")
    res = run(t, spark, reg, "resumed")
    assert not res.skipped and not clean.skipped
    assert t.snapshot().operation == operation
    # the resume commits the clean run's delta: the appended file is
    # rewritten along with the rest, into as many outputs
    assert res.rewritten_files == clean.rewritten_files
    assert len(t.snapshot().files) == len(copy.snapshot().files)
    if case.startswith("cluster"):
        assert (res.details.get("mode") == "merge-no-shuffle") == (case == "cluster-merge")
    if case.startswith("merge_into"):
        assert res.details["broadcast_path"]

    def erased(table):  # rows whose envelope bytes are gone
        return table.scan(spark).filter(F.col("content_enc").isNull()).count()

    assert erased(t) == erased(copy)

    read_keys = broadcast_keys(spark, reg.key_map_versioned())

    def scan(table):
        return decrypt_table(table.scan(spark), SPEC, read_keys)

    out = scan(t)
    assert out.count() == out.select("commit").distinct().count()
    assert content_digest(out, key_cols=DIGEST_COLS) == content_digest(
        scan(copy), key_cols=DIGEST_COLS
    )
